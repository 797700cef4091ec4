#!/usr/bin/env python3
"""Diff two NSHM stores table by table, surrogate ids included.

    python3 scripts/store_diff.py <storeA> <storeB>

For each of the six store tables, reads the parquet files at any depth
under <store>/<table>/ with DuckDB and compares the two sides as multisets
of rows, both ways, with EXCEPT ALL. Prints one line per table: the row
count of each side, the rows found only in A and only in B, and each
side's parquet file count and bytes, so a change of file layout shows
even when the rows are equal. Exits 1 if any table's rows differ (the
layout does not count), 2 if a store lacks a table directory.
"""

import glob
import os
import sys

import duckdb

TABLES = ("parent_fault", "fault", "fault_plane", "rupture", "rupture_faults",
          "magnitude_frequency_distribution")


def parquet_files(store, table):
    """The table's parquet files, at any depth under its directory."""
    d = os.path.join(store, table)
    if not os.path.isdir(d):
        print("store_diff: %s has no table directory %s" % (store, table), file=sys.stderr)
        sys.exit(2)
    return sorted(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))


def layout(store, table):
    """(parquet file count, parquet bytes) of the table."""
    files = parquet_files(store, table)
    return len(files), sum(os.path.getsize(f) for f in files)


def relation(con, store, table):
    """A SQL relation over the table's parquet files, or None when it has none."""
    files = parquet_files(store, table)
    if not files:
        return None
    listed = ", ".join("'%s'" % f.replace("'", "''") for f in files)
    return "read_parquet([%s], union_by_name = true)" % listed


def columns(con, rel):
    return [r[0] for r in con.execute("DESCRIBE SELECT * FROM %s" % rel).fetchall()]


def count(con, sql):
    return con.execute("SELECT count(*) FROM (%s)" % sql).fetchone()[0]


def diff_table(con, store_a, store_b, table):
    """(rows in A, rows in B, rows only in A, rows only in B)."""
    rel_a, rel_b = relation(con, store_a, table), relation(con, store_b, table)
    if rel_a is None or rel_b is None:
        n_a = 0 if rel_a is None else count(con, "SELECT * FROM %s" % rel_a)
        n_b = 0 if rel_b is None else count(con, "SELECT * FROM %s" % rel_b)
        return n_a, n_b, n_a if rel_b is None else 0, n_b if rel_a is None else 0
    cols_a, cols_b = columns(con, rel_a), columns(con, rel_b)
    n_a = count(con, "SELECT * FROM %s" % rel_a)
    n_b = count(con, "SELECT * FROM %s" % rel_b)
    if sorted(cols_a) != sorted(cols_b):
        print("store_diff: %s columns differ: %s vs %s" % (table, cols_a, cols_b), file=sys.stderr)
        return n_a, n_b, n_a, n_b
    select = ", ".join('"%s"' % c.replace('"', '""') for c in sorted(cols_a))
    side_a = "SELECT %s FROM %s" % (select, rel_a)
    side_b = "SELECT %s FROM %s" % (select, rel_b)
    only_a = count(con, "%s EXCEPT ALL %s" % (side_a, side_b))
    only_b = count(con, "%s EXCEPT ALL %s" % (side_b, side_a))
    return n_a, n_b, only_a, only_b


def main(argv):
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    con = duckdb.connect()
    differs = False
    print("%-34s %10s %10s %8s %8s %9s %9s %11s %11s" % (
        "table", "rows A", "rows B", "only A", "only B", "files A", "files B", "bytes A", "bytes B"))
    for table in TABLES:
        n_a, n_b, only_a, only_b = diff_table(con, argv[1], argv[2], table)
        (files_a, bytes_a), (files_b, bytes_b) = layout(argv[1], table), layout(argv[2], table)
        same = only_a == 0 and only_b == 0
        differs |= not same
        print("%-34s %10d %10d %8d %8d %9d %9d %11d %11d  %s" % (
            table, n_a, n_b, only_a, only_b, files_a, files_b, bytes_a, bytes_b,
            "equal" if same else "DIFFERENT"))
    return 1 if differs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
