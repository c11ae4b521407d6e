#!/usr/bin/env python3
"""Derive the empty-tables degenerate fixture from an sf directory.

Usage: python3 tools/derive_fixtures.py <sfDir> <outDir>

Writes every table of <sfDir> to <outDir> with zero rows. Each table keeps
its schema and schema metadata, and `events.ts` keeps its source timestamp
unit (no coercion to another precision). The result is a drop-in sf
directory for `graft.Verify` and `tools/verify_local.py`:

    python3 tools/derive_fixtures.py path/to/sf0.001 /tmp/fx_empty
    tools/run.sh graft.Verify /tmp/fx_empty /tmp/v_empty stream_file_sink
    python3 tools/verify_local.py /tmp/fx_empty /tmp/v_empty stream_file_sink
"""
import os, sys
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: derive_fixtures.py <sfDir> <outDir>")
    sf_dir, out_dir = sys.argv[1:]
    if os.path.realpath(sf_dir) == os.path.realpath(out_dir):
        sys.exit("derive_fixtures: outDir must differ from sfDir")
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        empty = pq.read_schema(os.path.join(sf_dir, f"{t}.parquet")).empty_table()
        pq.write_table(empty, os.path.join(out_dir, f"{t}.parquet"),
                       version="2.6", coerce_timestamps=None)
        print(f"{t}: 0 rows, {len(empty.schema)} columns")


if __name__ == "__main__":
    main()
