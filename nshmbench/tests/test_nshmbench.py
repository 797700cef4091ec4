"""Tests for the benchmark's own pieces: generators, percentiles, checks.

    python3 -m unittest discover -s nshmbench/tests
"""

import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_tables_other_seed_other_tables(self):
        a = gen.Model("serve-small", 7).fingerprint()
        b = gen.Model("serve-small", 7).fingerprint()
        c = gen.Model("serve-small", 8).fingerprint()
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_same_seed_same_script(self):
        self.assertEqual(gen.Model("serve-small", 3).script(6),
                         gen.Model("serve-small", 3).script(6))

    def test_shape(self):
        m = gen.Model("serve-small", 1)
        rated = m.crustal["base"][m.crustal["rated"]]
        self.assertEqual(len(set(rated)), len(rated))  # top-k is unambiguous
        self.assertLess(m.crustal["rated"].mean(), 1.0)  # some rates are null
        self.assertEqual(m.hik_sections[0]["parent"], gen.HIKURANGI_NAME)
        for name in m.parents:  # atoms stay inside the lexer's charset
            self.assertRegex(name, r"^[A-Za-z0-9\-_: ]+$")
            self.assertEqual(name, name.strip())
        self.assertEqual(sorted(set(c["op"] for c in m.warmup(all_ops=True))), sorted(gen.OPS))
        self.assertEqual(sorted(set(c["op"] for c in m.script(2, all_ops=True))),
                         sorted(gen.OPS))

    def test_cycles_hold_the_same_calls(self):
        for all_ops in (False, True):
            n = gen.cycle_len(all_ops)
            script = gen.Model("search-nshm", 4).script(6, all_ops)
            self.assertEqual(len(script), 6 * n)
            for k in range(6):
                ops = [c["op"] for c in script[k * n:(k + 1) * n]]
                extra = gen.in_turn(k) if all_ops else ()
                self.assertEqual(sorted(ops), sorted(gen.EVERY_CYCLE + extra))


class PercentileTest(unittest.TestCase):

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail(list(range(19))))
        self.assertEqual(stats.tail(list(range(1, 21))), (50.0, 10))
        self.assertEqual(stats.tail(list(range(1, 100)))[0], 50.0)
        self.assertEqual(stats.tail(list(range(1, 101))), (90.0, 90))
        self.assertEqual(stats.tail(list(range(1, 1001))), (99.0, 990))
        self.assertEqual(stats.tail(list(range(1, 10001))), (99.9, 9990))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


def _tiny_store(d, partition_by=None):
    """Two parents, three faults, three ruptures with distinct rates.

    `partition_by` maps a table to a column it is written partitioned by,
    in hive-style `column=value/` directories."""
    con = duckdb.connect()
    tables = {
        "parent_fault": "SELECT * FROM (VALUES (1::BIGINT, 'Alpine Fault'), (2, 'Kakapo: north-1'))"
                        " t(parent_id, name)",
        "fault": "SELECT * FROM (VALUES (0::BIGINT, 3, 0::BIGINT, 0.0, NULL::INT, 1::BIGINT),"
                 " (1, 3, 1, 0.0, NULL, 1), (2, 3, 2, 90.0, NULL, 2))"
                 " t(fault_id, fault_system, nshm_id, rake, tect_type, parent_id)",
        "fault_plane": "SELECT 1::BIGINT plane_id, 0.0 top_left_lat, 0.0 top_left_lon,"
                       " 0.0 top_right_lat, 0.0 top_right_lon, 0.0 bottom_right_lat,"
                       " 0.0 bottom_right_lon, 0.0 bottom_left_lat, 0.0 bottom_left_lon,"
                       " 0.0 top_depth, 1.0 bottom_depth, 0::BIGINT fault_id",
        "rupture": "SELECT * FROM (VALUES (1::BIGINT, 3, 10::BIGINT, 1.0, 6.5, 1.0, 0.03),"
                   " (2, 3, 11, 1.0, 7.0, 1.0, 0.02), (3, 3, 12, 1.0, 7.5, 1.0, NULL))"
                   " t(rupture_id, fault_system, nshm_id, area, magnitude, len, rate)",
        "rupture_faults": "SELECT * FROM (VALUES (1::BIGINT, 1::BIGINT, 0::BIGINT), (2, 1, 2),"
                          " (3, 2, 1), (4, 3, 0)) t(rupture_fault_id, rupture_id, fault_id)",
        "magnitude_frequency_distribution": "SELECT 1::BIGINT entry_id, 0::BIGINT fault_id,"
                                            " 6.5 magnitude, 0.1 rate",
    }
    for t, sql in tables.items():
        col = (partition_by or {}).get(t)
        if col:
            con.execute("COPY (%s) TO '%s/%s' (FORMAT PARQUET, PARTITION_BY (%s))" % (sql, d, t, col))
        else:
            os.makedirs(os.path.join(d, t))
            con.execute("COPY (%s) TO '%s/%s/part-0.parquet' (FORMAT PARQUET)" % (sql, d, t))
    return oracle.Store(d)


class OracleTest(unittest.TestCase):

    def test_search_oracle_counts_a_wrong_answer(self):
        with tempfile.TemporaryDirectory() as d:
            store = _tiny_store(d)
            call = {"op": "search", "expr": "Alpine Fault", "limit": 100}
            right = [[1, 10, 3, 6.5, 1.0, 1.0, 0.03], [2, 11, 3, 7.0, 1.0, 1.0, 0.02]]
            self.assertTrue(oracle.check_call(None, store, call, right, {}))
            wrong = [right[1], right[0]]  # top-k order broken
            self.assertFalse(oracle.check_call(None, store, call, wrong, {}))
            corrupt = [right[0], right[1][:6] + [0.021]]  # one rate off
            self.assertFalse(oracle.check_call(None, store, call, corrupt, {}))
            # NOT over a compound expression, and a zero bound that is honoured
            both = {"op": "search", "expr": "!(Kakapo: north-1 | Nothing)", "limit": 100}
            self.assertTrue(oracle.check_call(None, store, both, right[1:], {}))
            zero = {"op": "search", "expr": "Alpine Fault", "limit": 100, "rate": [None, 0.0]}
            self.assertTrue(oracle.check_call(None, store, zero, [], {}))

    def test_partitioned_table_is_read_whole(self):
        with tempfile.TemporaryDirectory() as flat_dir, tempfile.TemporaryDirectory() as part_dir:
            flat = _tiny_store(flat_dir)
            part = _tiny_store(part_dir, {"rupture_faults": "rupture_id"})
            self.assertTrue(any(n.startswith("rupture_id=")
                                for n in os.listdir(os.path.join(part_dir, "rupture_faults"))))
            self.assertEqual(part.counts(), flat.counts())
            self.assertEqual(part.counts()["rupture_faults"], 4)
            per_file = [os.path.getsize(os.path.join(r, f))
                        for r, _, fs in os.walk(part_dir) for f in fs if f.endswith(".parquet")]
            self.assertEqual(part.bytes(), sum(per_file))
            call = {"op": "search", "expr": "Alpine Fault", "limit": 100}
            self.assertEqual(part.search(call), flat.search(call))

    def test_lookup_checks_against_generated_rows(self):
        m = gen.Model("serve-small", 1)
        sec = m.crustal_sections[5]
        info = {"sys": gen.CRUSTAL, "nshm_id": 5, "name": sec["parent"],
                "rake": sec["rake"], "tect": None}
        call = {"op": "fault_info", "sys": gen.CRUSTAL, "id": 5}
        self.assertTrue(oracle.check_call(m, None, call, info, {}))
        self.assertFalse(oracle.check_call(m, None, call, dict(info, rake=sec["rake"] + 1), {}))
        i = 200
        named, per_section = oracle.expected_faults(m, gen.CRUSTAL, i)
        rup = {"sys": gen.CRUSTAL, "nshm_id": i, "mag": float(m.crustal["mag"][i]),
               "area": float(m.crustal["area"][i]), "len": float(m.crustal["length"][i]),
               "rate": m.merged_rate(gen.CRUSTAL, i), "faults": named}
        call = {"op": "rupture_lookup", "sys": gen.CRUSTAL, "id": i}
        self.assertTrue(oracle.check_call(m, None, call, rup, {}))
        one_plane_short = {k: v - (1 if j == 0 else 0) for j, (k, v) in enumerate(named.items())}
        self.assertFalse(oracle.check_call(m, None, call, dict(rup, faults=one_plane_short), {}))


if __name__ == "__main__":
    unittest.main()
