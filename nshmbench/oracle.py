"""Answer checks for the NSHM benchmark, run after the timed phase.

Searches are compared with DuckDB running the reference's SQL shape (a join
of the four tables, a per-rupture flag aggregation, HAVING, top-k by rate)
over the parquet the program wrote, with the engine's documented
divergences: a zero bound is a real bound, and NOT over a compound
expression works. Lookups, hydration and MFD answers are compared with the
rows the generator wrote; ingest with the generator's row counts and
weighted rate totals.
"""

import glob
import math
import os
import re

import duckdb

import gen

TABLES = ("parent_fault", "fault", "fault_plane", "rupture", "rupture_faults",
          "magnitude_frequency_distribution")


# ------------------------------------------------------------------ DSL

def _lex(expr):
    toks = []
    for m in re.finditer(r"\s*(?:([&|!()])|([A-Za-z0-9\-_: ]+))", expr):
        if m.group(1):
            toks.append(m.group(1))
        elif m.group(2).strip():
            toks.append(("atom", m.group(2).strip()))
    return toks


def parse(expr):
    """Pratt parse with the engine's binding powers: ! > & > |."""
    toks, pos = _lex(expr), [0]

    def bp(min_bp):
        t = toks[pos[0]]
        pos[0] += 1
        if t == "(":
            lhs = bp(0)
            assert toks[pos[0]] == ")"
            pos[0] += 1
        elif t == "!":
            lhs = ("not", bp(5))
        else:
            lhs = t
        while pos[0] < len(toks) and toks[pos[0]] in ("&", "|"):
            op = toks[pos[0]]
            lbp, rbp = (3, 4) if op == "&" else (1, 2)
            if lbp < min_bp:
                break
            pos[0] += 1
            lhs = ("and" if op == "&" else "or", lhs, bp(rbp))
        return lhs

    return bp(0)


def to_sql(tree):
    kind = tree[0]
    if kind == "atom":
        return "(SUM(CASE WHEN pf.name = '%s' THEN 1 ELSE 0 END) > 0)" % tree[1].replace("'", "''")
    if kind == "not":
        return "(NOT %s)" % to_sql(tree[1])
    return "(%s %s %s)" % (to_sql(tree[1]), "AND" if kind == "and" else "OR", to_sql(tree[2]))


# --------------------------------------------------------------- oracle

class Store:
    """DuckDB views over the six parquet tables of one store directory.

    A table's files may sit directly in its directory or under hive-style
    `column=value/` partition directories; both are read."""

    def __init__(self, store_dir):
        self.dir = store_dir
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(
                "CREATE VIEW %s AS SELECT * FROM read_parquet('%s/%s/**/*.parquet',"
                " hive_partitioning = true)" % (t, store_dir, t))

    def counts(self):
        return {t: self.con.execute("SELECT count(*) FROM %s" % t).fetchone()[0] for t in TABLES}

    def rate_sums(self):
        r = self.con.execute("SELECT sum(rate) FROM rupture").fetchone()[0]
        m = self.con.execute("SELECT sum(rate) FROM magnitude_frequency_distribution").fetchone()[0]
        return r, m

    def bytes(self):
        return sum(os.path.getsize(p) for t in TABLES
                   for p in glob.glob(os.path.join(self.dir, t, "**", "*.parquet"), recursive=True))

    def search(self, call):
        where = ["r.rate IS NOT NULL"]
        mag, rate = call.get("mag") or [None, None], call.get("rate") or [None, None]
        if mag[0] is not None:
            where.append("r.magnitude >= %r" % mag[0])
        if mag[1] is not None:
            where.append("r.magnitude <= %r" % mag[1])
        if rate[0] is not None:
            where.append("r.rate >= %r" % rate[0])
        if rate[1] is not None:
            where.append("r.rate <= %r" % rate[1])
        having = to_sql(parse(call["expr"]))
        if call.get("fcl") is not None:
            having = "COUNT(DISTINCT pf.parent_id) <= %d AND %s" % (call["fcl"], having)
        sql = """
            SELECT r.rupture_id, max(r.nshm_id), max(r.fault_system), max(r.magnitude),
                   max(r.area), max(r.len), max(r.rate) AS rate
            FROM rupture r
            JOIN rupture_faults rf ON r.rupture_id = rf.rupture_id
            JOIN fault f ON rf.fault_id = f.fault_id
            JOIN parent_fault pf ON f.parent_id = pf.parent_id
            WHERE %s
            GROUP BY r.rupture_id
            HAVING %s
            ORDER BY rate DESC NULLS LAST
            LIMIT %d""" % (" AND ".join(where), having, call["limit"])
        return [list(row) for row in self.con.execute(sql).fetchall()]


# ---------------------------------------------------------------- checks

def _close(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-300)


def expected_faults(model, code, nshm_id):
    """Fault name -> plane count, as hydration names them.

    Crustal sections group under their parent's name; subduction sections
    stay one entry each, so only the multiset of their plane counts is
    compared (their names carry the program's surrogate id)."""
    s = model.systems[code]
    start, length = int(s["starts"][nshm_id]), int(s["lens"][nshm_id])
    named, per_section = {}, []
    for k in range(start, start + length):
        sec = s["sections"][k]
        n = len(sec["trace"]) - 1
        if sec["parent"] == gen.HIKURANGI_NAME:
            per_section.append(n)
        else:
            named[sec["parent"]] = named.get(sec["parent"], 0) + n
    return named, sorted(per_section)


def _split_faults(faults):
    named, per_section = {}, []
    for name, n in faults.items():
        if name.startswith(gen.HIKURANGI_NAME + ": Section "):
            per_section.append(n)
        else:
            named[name] = n
    return named, sorted(per_section)


def check_rupture(model, code, nshm_id, got):
    s = model.systems[code]
    ok = (got["sys"] == code and got["nshm_id"] == nshm_id
          and _close(got["mag"], float(s["mag"][nshm_id]))
          and _close(got["area"], float(s["area"][nshm_id]))
          and _close(got["len"], float(s["length"][nshm_id]))
          and _close(got["rate"], model.merged_rate(code, nshm_id)))
    return ok and _split_faults(got["faults"]) == expected_faults(model, code, nshm_id)


def check_fault(model, code, nshm_id, planes):
    sec = model.systems[code]["sections"][nshm_id]
    trace = sec["trace"]
    if len(planes) != len(trace) - 1:
        return False
    for j, p in enumerate(planes):
        (lon1, lat1), (lon2, lat2) = trace[j], trace[j + 1]
        top, bottom = sec["up"] * 1000, sec["low"] * 1000
        if not (_close(p[0][0], lat1) and _close(p[0][1], lon1) and _close(p[1][0], lat2)
                and _close(p[1][1], lon2) and _close(p[0][2], top) and _close(p[2][2], bottom)):
            return False
    return True


def check_fault_info(model, code, nshm_id, got):
    sec = model.systems[code]["sections"][nshm_id]
    return (got["sys"] == code and got["nshm_id"] == nshm_id and got["name"] == sec["parent"]
            and _close(got["rake"], sec["rake"]) and got["tect"] is None)


def check_rupture_fault_info(model, nshm_id, got):
    s = model.crustal
    start, length = int(s["starts"][nshm_id]), int(s["lens"][nshm_id])
    secs = {k: s["sections"][k] for k in range(start, start + length)}
    if set(got) != {x["parent"] for x in secs.values()}:
        return False
    for name, fi in got.items():
        sec = secs.get(fi["nshm_id"])
        if sec is None or sec["parent"] != name or not check_fault_info(
                model, gen.CRUSTAL, fi["nshm_id"], fi):
            return False
    return True


def expected_mfd(model, nshm_id, targets):
    """most_likely_fault's answer from the generator's MFD rows: each target
    snaps to the smallest stored magnitude >= it (else the largest) among the
    rupture's MFD rows, then rates at that magnitude sum per parent."""
    s = model.crustal
    mags, per_branch = s["mfd"]
    rows = []  # (parent, magnitude, merged rate)
    for k in range(int(s["starts"][nshm_id]), int(s["starts"][nshm_id] + s["lens"][nshm_id])):
        parent = s["sections"][k]["parent"]
        for j, m in enumerate(mags):
            m = float("%.2f" % m)  # the program reads magnitudes from CSV headers
            pos = [w * r[k, j] for w, r in zip(model.weights, per_branch) if r[k, j] > 0]
            if pos:
                rows.append((parent, m, sum(pos)))
    distinct = sorted({m for _, m, _ in rows})
    out = {}
    for name, target in targets:
        snapped = next((m for m in distinct if m >= target), distinct[-1])
        hit = [r for p, m, r in rows if p == name and m == snapped]
        if hit:
            out[name] = out.get(name, 0.0) + sum(hit)
    return out


def check_call(model, store, call, got, cache):
    op = call["op"]
    if op in ("search", "search_compound", "hydrate"):
        key = repr(sorted((k, repr(v)) for k, v in call.items() if k != "op"))
        if key not in cache:
            cache[key] = store.search(call)
        want = cache[key]
        if op != "hydrate":
            return [r[1] for r in got] == [r[1] for r in want] and all(
                _close(g[6], w[6]) and g[0] == w[0] for g, w in zip(got, want))
        if {int(k) for k in got} != {r[1] for r in want}:
            return False
        # keyed by (system, nshm id): the answer map is keyed by nshm id only
        by_id = {(r[2], r[1]): r for r in want}
        return all((v["sys"], int(k)) in by_id and _close(v["rate"], by_id[(v["sys"], int(k))][6])
                   and _split_faults(v["faults"]) == expected_faults(model, v["sys"], int(k))
                   for k, v in got.items())
    if op == "rupture_lookup":
        return check_rupture(model, call["sys"], call["id"], got)
    if op == "fault_lookup":
        return check_fault(model, call["sys"], call["id"], got)
    if op == "fault_info":
        return check_fault_info(model, call["sys"], call["id"], got)
    if op == "rupture_fault_info":
        return check_rupture_fault_info(model, call["id"], got)
    if op == "mfd":
        want = expected_mfd(model, call["id"], call["targets"])
        return set(got) == set(want) and all(_close(got[k], want[k]) for k in want)
    return False


def check_store(model, store):
    """Row counts of the six tables and the weighted-merge totals."""
    counts = store.counts()
    r, m = store.rate_sums()
    ok = counts == model.expected_counts()
    ok = ok and _close(r, model.expected_rate_sum(), 1e-9)
    return ok and _close(m, model.expected_mfd_sum(), 1e-9)
