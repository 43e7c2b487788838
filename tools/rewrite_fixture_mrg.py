#!/usr/bin/env python3
"""Rewrite a parquet fixture directory with multiple row groups per file.

Why this exists (BASELINE.md "Multi-row-group fixture A/B (r15)"): the
driver-generated fixtures are written as ONE row group per file. A row
group is Spark's split atom, so every scan of such a file is exactly one
task no matter what `spark.sql.files.maxPartitionBytes` says — the whole
decode serializes onto one core while DuckDB (which parallelizes inside
a row group) fans out. Rewriting the big tables with ~32 row groups gave
q01 a 4.0x wall-clock cut (1.04 -> 0.26 s) with DuckDB moving 46 ms; the
sub-MB tables are scheduling-floor-bound and don't care.

This tool reproduces that rewrite reproducibly so the driver (or anyone)
can flip the fixture layout without archaeology:

  python3 tools/rewrite_fixture_mrg.py /root/testdata/sf0.1 /tmp/mrg_sf01
  python3 tools/rewrite_fixture_mrg.py SRC DST --groups 32 --min-bytes 5000000

Tables at or above --min-bytes are rewritten with --groups row groups
(row_group_size = ceil(rows/groups); DuckDB's own writer clamps its
row_group_size at 2048 rows, hence pyarrow). Smaller tables are
symlinked unchanged — rewriting them changes nothing measurable and
keeps the A/B honest. Values are byte-identical either way; only the
row-group framing changes, so all oracle hashes are unaffected.

To make Spark actually split on the groups, size its splits to them:
  spark.sql.files.maxPartitionBytes ~= filesize/groups
  spark.sql.files.openCostInBytes   = 0
(graft.Bench's session reads them as JVM system properties, e.g.
sbt 'set javaOptions += "-Dspark.sql.files.openCostInBytes=0"' 'runMain graft.Bench';
on single-row-group files these confs are no-ops.)
"""
import argparse
import math
import os
import sys

import pyarrow.parquet as pq


def rewrite(src, dst, groups, min_bytes):
    os.makedirs(dst, exist_ok=True)
    for name in sorted(os.listdir(src)):
        if not name.endswith(".parquet"):
            continue
        s, d = os.path.join(src, name), os.path.join(dst, name)
        if os.path.lexists(d):
            os.remove(d)
        size = os.path.getsize(s)
        if size < min_bytes:
            os.symlink(os.path.abspath(s), d)
            print(f"  symlink {name}  ({size/1e6:.2f} MB < threshold)")
            continue
        t = pq.read_table(s)
        rgs = math.ceil(t.num_rows / groups)
        pq.write_table(t, d, row_group_size=rgs)
        meta = pq.ParquetFile(d).metadata
        print(f"  rewrote {name}  {t.num_rows} rows -> "
              f"{meta.num_row_groups} row groups of <= {rgs} rows "
              f"({size/1e6:.2f} MB)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("src", help="source fixture dir (e.g. /root/testdata/sf0.1)")
    ap.add_argument("dst", help="destination dir (created; small tables symlinked)")
    ap.add_argument("--groups", type=int, default=32,
                    help="target row groups per rewritten file (default 32)")
    ap.add_argument("--min-bytes", type=int, default=5_000_000,
                    help="only rewrite files at/above this size (default 5 MB)")
    a = ap.parse_args()
    if os.path.abspath(a.src) == os.path.abspath(a.dst):
        sys.exit("src and dst must differ")
    print(f"rewriting {a.src} -> {a.dst} ({a.groups} row groups, "
          f"min {a.min_bytes/1e6:.0f} MB)")
    rewrite(a.src, a.dst, a.groups, a.min_bytes)


if __name__ == "__main__":
    main()
