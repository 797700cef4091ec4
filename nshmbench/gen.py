"""Seeded input generators for the NSHM benchmark.

Everything a run feeds the program comes from here, and only from the
seed: the weighted branch archives (in the member format `graft.nshm.Ingest`
reads), the manifest that `ManifestSolutionProvider` resolves, and the call
script the closed-loop client replays. The generator also keeps the rows it
wrote, so lookups and ingest totals can be checked against known values.

Shape of a generated model:
  * crustal parent faults with lexer-safe names (letters, digits, spaces,
    ':' and '-'), each owning a run of consecutive sections along one
    global chain, so a rupture's contiguous section run crosses parents;
  * one subduction group whose only parent is `Ingest.HikurangiName`, with no
    MFD member, so hydration's per-section naming split is exercised;
  * a heavy-tailed (log-normal, clipped) number of sections per rupture;
  * a distinct base rate per rupture (branch rates are base x a per-branch
    factor, so the merged rates stay distinct and top-k is unambiguous) and a
    small share of ruptures with no rate at all;
  * query atoms drawn from a Zipf distribution over crustal parent names.
"""

import hashlib
import io
import json
import os
import zipfile

import numpy as np

HIKURANGI_NAME = (
    "Hikurangi, Kermadec to Louisville ridge, 30km - with slip deficit "
    "smoothed near East Cape and locked near trench."
)
CRUSTAL, HIKURANGI = 3, 1

# Zip-member names, as `graft.nshm.Ingest` defines them.
FAULT_INFORMATION = "ruptures/fault_sections.geojson"
RUPTURE_FAULT_JOIN = "ruptures/indices.csv"
RUPTURE_RATES = "solution/rates.csv"
RUPTURE_PROPERTIES = "ruptures/properties.csv"
MFDS = "ruptures/sub_seismo_on_fault_mfds.csv"

OPS = ("search", "search_compound", "hydrate", "rupture_lookup", "fault_lookup",
       "fault_info", "rupture_fault_info", "mfd")

# The closed loop replays cycles of the EVERY_CYCLE calls: four plain
# searches and two calls of each other op whose median is reported, so
# searches are 40 % of calls, all in one shape. A run ends on a cycle
# boundary, so each op has the same number of samples in every run of the
# same length and the mix does not drift with the seed; the seed orders the
# calls inside each cycle and picks their arguments. The IN_TURN ops, whose
# medians are not reported, would take a sixth of a run's calls from the
# reported ones; they run in the traced run only, two per cycle in turn, so
# the per-layer figures cover every op within two cycles.
EVERY_CYCLE = ("search", "search", "search", "search", "hydrate", "hydrate",
               "rupture_lookup", "rupture_lookup", "fault_lookup", "fault_lookup")
IN_TURN = ("mfd", "search_compound", "fault_info", "rupture_fault_info")
IN_TURN_PER_CYCLE = 2


def in_turn(k):
    """The IN_TURN ops that cycle k of the traced run adds."""
    return tuple(IN_TURN[(k * IN_TURN_PER_CYCLE + j) % len(IN_TURN)] for j in range(IN_TURN_PER_CYCLE))


def cycle_len(all_ops):
    return len(EVERY_CYCLE) + (IN_TURN_PER_CYCLE if all_ops else 0)


# Per-workload model sizes. Both replay the same cycles; they differ in how
# many ruptures (and so `rupture_faults` rows) the searches scan.
WORKLOADS = {
    "serve-small": dict(
        parents=600, sections=3600, hik_sections=120,
        ruptures=2000, hik_ruptures=120, branches=2, mfd_bins=30),
    "search-nshm": dict(
        parents=600, sections=3600, hik_sections=120,
        ruptures=20000, hik_ruptures=800, branches=2, mfd_bins=30),
}

_SYLLABLES = ("ka", "ro", "wai", "tu", "ma", "ngi", "ho", "pu", "ta", "ri",
              "ke", "mo", "ha", "nu", "whe", "ao", "te", "pa", "ra", "ki")
_SUFFIX = ("Fault", "Range", "Ridge", "Zone", "Thrust", "Basin")


def _parent_names(rng, n):
    names, seen = [], set()
    while len(names) < n:
        k = rng.integers(2, 4)
        word = "".join(rng.choice(_SYLLABLES, size=k)).capitalize()
        name = "%s %s" % (word, rng.choice(_SUFFIX))
        r = rng.random()
        if r < 0.25:
            name += ": %s-%d" % (rng.choice(("north", "south", "east", "west")),
                                 rng.integers(1, 9))
        elif r < 0.4:
            name += " - %d" % rng.integers(1, 99)
        if name not in seen:
            seen.add(name)
            names.append(name)
    return names


def _split_sections(rng, n_sections, n_parents):
    """Sizes >= 1 summing to n_sections: consecutive section runs per parent."""
    w = rng.gamma(2.0, 1.0, size=n_parents)
    extra = n_sections - n_parents
    sizes = 1 + np.floor(w / w.sum() * extra).astype(np.int64)
    sizes[: n_sections - sizes.sum()] += 1
    return sizes


def _sections(rng, parents, sizes, origin):
    """Fault sections along one chain: traces of 2-3 (lon, lat) points."""
    out = []
    lat0, lon0 = origin
    n = int(sizes.sum())
    owner = np.repeat(np.arange(len(parents)), sizes)
    for i in range(n):
        # march north-east along a slightly wavy chain, wrapping inside NZ
        lat = lat0 + 0.02 * (i % 400) + rng.normal(0, 0.005)
        lon = lon0 + 0.015 * (i // 400) + 0.01 * (i % 7)
        npts = 2 if rng.random() < 0.7 else 3
        pts = [[round(lon + 0.01 * j, 6), round(lat + 0.008 * j, 6)]
               for j in range(npts)]
        dip = 90.0 if rng.random() < 0.15 else float(rng.integers(25, 85))
        out.append(dict(
            id=i, parent=parents[owner[i]], trace=pts,
            up=0.0, low=float(rng.integers(10, 25)), dip=dip,
            dipdir=None if rng.random() < 0.1 else float(rng.integers(0, 360)),
            rake=float(rng.choice((-90.0, 0.0, 90.0, 180.0)))))
    return out


def _ruptures(rng, n, n_sections, max_len):
    """(start, length) of each rupture's contiguous section run."""
    lens = np.clip(np.rint(np.exp(rng.normal(2.35, 0.9, size=n))), 1,
                   min(max_len, n_sections)).astype(np.int64)
    starts = rng.integers(0, n_sections - lens + 1)
    return starts, lens


def _rates(rng, n):
    """Distinct positive base rates; ~2% of ruptures get no rate at all."""
    base = 10.0 ** rng.uniform(-8, -2, size=n)
    base = np.unique(base)
    while len(base) < n:  # astronomically unlikely; keep distinctness exact
        base = np.unique(np.concatenate([base, 10.0 ** rng.uniform(-8, -2, n - len(base))]))
    base = rng.permutation(base)
    rated = rng.random(n) >= 0.02
    return base, rated


def _fmt(x):
    return repr(float(x))


def _geojson(sections):
    feats = []
    for s in sections:
        feats.append({
            "type": "Feature",
            "properties": {
                "FaultID": s["id"], "ParentName": s["parent"],
                "UpDepth": s["up"], "LowDepth": s["low"], "DipDeg": s["dip"],
                "Rake": s["rake"], "DipDir": s["dipdir"]},
            "geometry": {"type": "LineString", "coordinates": s["trace"]}})
    return json.dumps({"type": "FeatureCollection", "features": feats})


def _system(rng, sections, n_rup, max_len, branch_factors, mfd_bins):
    """One fault system's branch-invariant rows plus per-branch rate rows."""
    n_sec = len(sections)
    starts, lens = _ruptures(rng, n_rup, n_sec, max_len)
    base, rated = _rates(rng, n_rup)
    length_m = np.round(lens * rng.uniform(8e3, 14e3, n_rup), 1)
    area = np.round(length_m * rng.uniform(12e3, 20e3, n_rup), 1)
    mag = np.round(np.log10(area) - 4.0 + rng.normal(0, 0.05, n_rup) + 0.1, 4)
    sys = dict(sections=sections, starts=starts, lens=lens, base=base,
               rated=rated, length=length_m, area=area, mag=mag,
               factors=branch_factors, mfd=None)
    if mfd_bins:
        mags = np.round(6.05 + 0.1 * np.arange(mfd_bins), 2)
        per_branch = []
        for _ in branch_factors:
            r = 10.0 ** rng.uniform(-7, -3, size=(n_sec, mfd_bins))
            r[rng.random((n_sec, mfd_bins)) < 0.15] = 0.0  # melted away
            per_branch.append(r)
        sys["mfd"] = (mags, per_branch)
    return sys


def _branch_members(sys, b):
    starts, lens = sys["starts"], sys["lens"]
    n = len(starts)
    ids = np.arange(n)
    props = io.StringIO()
    props.write("Rupture Index,Magnitude,Area (m^2),Length (m)\n")
    for i in range(n):
        props.write("%d,%s,%s,%s\n" % (i, _fmt(sys["mag"][i]), _fmt(sys["area"][i]),
                                        _fmt(sys["length"][i])))
    rates = io.StringIO()
    rates.write("Rupture Index,Annual Rate\n")
    f = sys["factors"][b]
    for i in ids[sys["rated"]]:
        rates.write("%d,%s\n" % (i, _fmt(sys["base"][i] * f)))
    idx = io.StringIO()
    idx.write("Rupture Index,Num Sections,# 1\n")
    for i in range(n):
        s, l = int(starts[i]), int(lens[i])
        idx.write("%d,%d,%s\n" % (i, l, ",".join(map(str, range(s, s + l)))))
    members = {
        FAULT_INFORMATION: _geojson(sys["sections"]),
        RUPTURE_PROPERTIES: props.getvalue(),
        RUPTURE_RATES: rates.getvalue(),
        RUPTURE_FAULT_JOIN: idx.getvalue(),
    }
    if sys["mfd"] is not None:
        mags, per_branch = sys["mfd"]
        m = io.StringIO()
        m.write("Section Index," + ",".join("%.2f" % x for x in mags) + "\n")
        for k, row in enumerate(per_branch[b]):
            m.write("%d,%s\n" % (k, ",".join(_fmt(x) if x > 0 else "0.0" for x in row)))
        members[MFDS] = m.getvalue()
    return members


class Model:
    """A generated NSHM model: branch rows, weights and what ingest must land."""

    def __init__(self, workload, seed):
        p = WORKLOADS[workload]
        self.workload, self.seed, self.params = workload, seed, p
        rng = np.random.default_rng([seed, sum(map(ord, workload))])
        self.rng = rng
        self.parents = _parent_names(rng, p["parents"])
        sizes = _split_sections(rng, p["sections"], p["parents"])
        self.crustal_sections = _sections(rng, self.parents, sizes, (-46.0, 167.0))
        self.hik_sections = _sections(
            rng, [HIKURANGI_NAME], np.array([p["hik_sections"]]), (-41.5, 176.5))
        w = rng.dirichlet(np.ones(p["branches"]) * 4.0)
        self.weights = [round(float(x), 6) for x in w]
        self.weights[-1] = round(1.0 - sum(self.weights[:-1]), 6)
        cf = [float(x) for x in rng.uniform(0.5, 1.5, p["branches"])]
        self.crustal = _system(rng, self.crustal_sections, p["ruptures"], 80, cf,
                               p["mfd_bins"])
        self.hik_weights = [1.0]
        self.hik = _system(rng, self.hik_sections, p["hik_ruptures"], 40,
                           [float(rng.uniform(0.5, 1.5))], 0)
        self.systems = {CRUSTAL: self.crustal, HIKURANGI: self.hik}
        self.sys_weights = {CRUSTAL: self.weights, HIKURANGI: self.hik_weights}

    # ---------------------------------------------------------------- files

    def write(self, out_dir):
        """Write the branch zips and the manifest; returns the manifest path."""
        os.makedirs(out_dir, exist_ok=True)
        lines = ["group,weight,path"]
        for group, code in (("CRU", CRUSTAL), ("HIK", HIKURANGI)):
            for b, w in enumerate(self.sys_weights[code]):
                path = os.path.join(out_dir, "%s_b%d.zip" % (group, b))
                with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as z:
                    for name, content in _branch_members(self.systems[code], b).items():
                        z.writestr(name, content)
                lines.append("%s,%r,%s" % (group, w, os.path.abspath(path)))
        manifest = os.path.join(out_dir, "manifest.csv")
        with open(manifest, "w") as f:
            f.write("\n".join(lines) + "\n")
        return manifest

    # ------------------------------------------------------- known results

    def merged_rate(self, code, i):
        s = self.systems[code]
        if not s["rated"][i]:
            return None
        return float(sum(w * s["base"][i] * f
                         for w, f in zip(self.sys_weights[code], s["factors"])))

    def expected_counts(self):
        """Rows each of the six tables must hold after one composite build."""
        planes = sum(len(s["trace"]) - 1 for s in self.crustal_sections + self.hik_sections)
        mags, per_branch = self.crustal["mfd"]
        mfd_rows = int(np.count_nonzero(sum(r > 0 for r in per_branch)))
        return {
            "parent_fault": len(self.parents) + 1,
            "fault": len(self.crustal_sections) + len(self.hik_sections),
            "fault_plane": planes,
            "rupture": len(self.crustal["starts"]) + len(self.hik["starts"]),
            "rupture_faults": int(self.crustal["lens"].sum() + self.hik["lens"].sum()),
            "magnitude_frequency_distribution": mfd_rows,
        }

    def expected_rate_sum(self):
        """Σ over ruptures of Σ_b w_b·rate_b (the weighted merge's total)."""
        total = 0.0
        for code, s in self.systems.items():
            k = sum(w * f for w, f in zip(self.sys_weights[code], s["factors"]))
            total += float(s["base"][s["rated"]].sum()) * k
        return total

    def expected_mfd_sum(self):
        mags, per_branch = self.crustal["mfd"]
        return float(sum(w * r.sum() for w, r in zip(self.weights, per_branch)))

    def rupture_parents(self, code, i):
        s = self.systems[code]
        secs = s["sections"][s["starts"][i]: s["starts"][i] + s["lens"][i]]
        out = []
        for x in secs:
            if x["parent"] not in out:
                out.append(x["parent"])
        return out

    def fingerprint(self):
        """Order-sensitive digest of every generated row (branch members)."""
        h = hashlib.sha256()
        for code in (CRUSTAL, HIKURANGI):
            for b in range(len(self.sys_weights[code])):
                for name, content in sorted(_branch_members(self.systems[code], b).items()):
                    h.update(name.encode())
                    h.update(content.encode())
        h.update(repr(self.weights).encode())
        return h.hexdigest()

    # ----------------------------------------------------------- call script

    def atom(self):
        """A crustal parent name, Zipf-distributed over the parent list."""
        n = len(self.parents)
        while True:
            k = int(self.rng.zipf(1.3))
            if k <= n:
                return self.parents[k - 1]

    def search_args(self, compound):
        """A union of two atoms, or a compound shape with bounds.

        Plain unions keep the `search` p50 inside one latency cluster; the
        compound calls exercise AND, NOT over a compound, the magnitude and
        rate bounds and the fault-count limit."""
        rng = self.rng
        a, b, c = self.atom(), self.atom(), self.atom()
        if not compound:
            return {"expr": "%s | %s" % (a, b), "limit": 100}
        expr = ("%s & (%s | !%s)" % (a, b, c) if rng.random() < 0.5
                else "!(%s | %s)" % (a, b))
        args = {"expr": expr, "limit": 100}
        if rng.random() < 0.5:
            args["mag"] = [float(round(rng.uniform(6.0, 7.0), 2)), None]
        if rng.random() < 0.3:
            args["rate"] = [None, float(10.0 ** rng.uniform(-4, -2))]
        if rng.random() < 0.3:
            args["fcl"] = int(rng.integers(2, 8))
        return args

    def _rupture_pick(self, crustal_only=False):
        rng = self.rng
        if crustal_only or rng.random() < 0.85:
            # nshm ids that also exist in the subduction system are skipped:
            # rupture_fault_info matches on the nshm id alone
            lo = len(self.hik["starts"]) if crustal_only else 0
            return CRUSTAL, int(rng.integers(lo, len(self.crustal["starts"])))
        return HIKURANGI, int(rng.integers(0, len(self.hik["starts"])))

    def call(self, op):
        rng = self.rng
        if op in ("search", "search_compound"):
            return dict(op=op, **self.search_args(op == "search_compound"))
        if op == "hydrate":
            # hydration cost grows with the result count: hold it at 20
            return dict(op=op, **dict(self.search_args(False), limit=20))
        if op == "rupture_lookup":
            code, i = self._rupture_pick()
            return dict(op=op, sys=code, id=i)
        if op in ("fault_lookup", "fault_info"):
            if rng.random() < 0.85:
                return dict(op=op, sys=CRUSTAL,
                            id=int(rng.integers(0, len(self.crustal_sections))))
            return dict(op=op, sys=HIKURANGI,
                        id=int(rng.integers(0, len(self.hik_sections))))
        if op == "rupture_fault_info":
            return dict(op=op, id=self._rupture_pick(crustal_only=True)[1])
        if op == "mfd":
            code, i = self._rupture_pick(crustal_only=True)
            base_mag = float(self.crustal["mag"][i])
            targets = [[name, float(round(base_mag + rng.normal(0, 0.3), 2))]
                       for name in self.rupture_parents(code, i)]
            return dict(op=op, sys=code, id=i, targets=targets)
        raise ValueError(op)

    def script(self, n_cycles, all_ops=False):
        """The closed-loop call sequence: n_cycles cycles, each shuffled;
        with all_ops, each cycle adds IN_TURN ops in turn."""
        calls = []
        for k in range(n_cycles):
            ops = EVERY_CYCLE + (in_turn(k) if all_ops else ())
            calls += [self.call(str(op)) for op in self.rng.permutation(ops)]
        return calls

    def warmup(self, all_ops=False):
        """One cycle, outside the timed phase, so the ops are timed warm;
        with all_ops it holds every IN_TURN op too."""
        return [self.call(str(op)) for op in self.rng.permutation(EVERY_CYCLE + (IN_TURN if all_ops else ()))]
