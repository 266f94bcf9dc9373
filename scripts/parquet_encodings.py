#!/usr/bin/env python3
"""Per-column Parquet encodings of every data file under a directory.

Usage: python3 scripts/parquet_encodings.py <dir>

Reads only the footers of the `*.parquet` files under <dir>, recursively,
skipping `_`- and `.`-prefixed entries as Spark's reader does (a
`Sinks.commitBatch` table's `_manifests`, a crashed attempt's
`.staging-*`). Prints one line per column path (struct fields dotted, e.g.
`geom.sx`): its physical type, the column chunks that carry a dictionary
page out of all its chunks, their compressed size and the encodings seen.
"""
import os
import sys

import pyarrow.parquet as pq


def parquet_files(root):
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                yield os.path.join(dirpath, f)


def main():
    if len(sys.argv) != 2:
        sys.exit(__doc__.strip().splitlines()[2])
    cols = {}  # path -> [physical type, dict chunks, chunks, bytes, encodings]
    files = list(parquet_files(sys.argv[1]))
    if not files:
        sys.exit(f"no parquet files under {sys.argv[1]}")
    for path in files:
        md = pq.ParquetFile(path).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                ch = rg.column(c)
                e = cols.setdefault(ch.path_in_schema, [ch.physical_type, 0, 0, 0, set()])
                e[1] += bool(ch.has_dictionary_page)
                e[2] += 1
                e[3] += ch.total_compressed_size
                e[4].update(ch.encodings)
    width = max(len(p) for p in cols)
    print(f"{len(files)} files")
    print(f"{'column':<{width}}  {'type':<20}  {'dict/chunks':>11}  {'MB':>8}  encodings")
    for p, (typ, dicts, chunks, size, encs) in cols.items():
        print(f"{p:<{width}}  {typ:<20}  {f'{dicts}/{chunks}':>11}  "
              f"{size / 1e6:>8.3f}  {','.join(sorted(encs))}")


if __name__ == "__main__":
    main()
