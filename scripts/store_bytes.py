#!/usr/bin/env python3
"""Where the bytes of a graft store directory go, from parquet footers only.

Usage: python3 scripts/store_bytes.py <dir>

Walks <dir> and prints three tables:

- per part directory: a data file's directory relative to <dir>, with
  partition segments such as `pindex=3` or `abucket=7` removed. It shows
  parquet files, their bytes on disk, and the bytes of every other file
  there (checksums, sidecars, markers).
- per column: compressed and uncompressed column-chunk bytes summed over
  the part directory's files, and the codecs seen.
- per codec: compressed column-chunk bytes over the whole tree.

Only footers are read (pyarrow.parquet.ParquetFile.metadata), never data
pages, so the script is cheap on any store size.
"""
import os
import sys
from collections import defaultdict

import pyarrow.parquet as pq


def part_dir(root, path):
    rel = os.path.relpath(os.path.dirname(path), root)
    segs = [s for s in rel.split(os.sep) if s != "." and "=" not in s]
    return "/".join(segs) or "."


def is_data_file(name):
    return name.endswith(".parquet") and not name.startswith((".", "_"))


def scan(root):
    parts = defaultdict(lambda: {"files": 0, "bytes": 0, "other": 0})
    cols = defaultdict(lambda: {"comp": 0, "raw": 0, "codecs": set()})
    codecs = defaultdict(int)
    for d, _, names in os.walk(root):
        for name in names:
            path = os.path.join(d, name)
            pd = part_dir(root, path)
            size = os.path.getsize(path)
            if not is_data_file(name):
                parts[pd]["other"] += size
                continue
            parts[pd]["files"] += 1
            parts[pd]["bytes"] += size
            md = pq.ParquetFile(path).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    cc = rg.column(c)
                    col = cols[(pd, cc.path_in_schema)]
                    col["comp"] += cc.total_compressed_size
                    col["raw"] += cc.total_uncompressed_size
                    col["codecs"].add(cc.compression)
                    codecs[cc.compression] += cc.total_compressed_size
    return parts, cols, codecs


def main(argv):
    if len(argv) != 2 or not os.path.isdir(argv[1]):
        print("usage: python3 scripts/store_bytes.py <dir>", file=sys.stderr)
        return 2
    parts, cols, codecs = scan(argv[1])

    print(f"{'part directory':<40} {'files':>6} {'parquet B':>12} {'other B':>10}")
    for pd in sorted(parts):
        p = parts[pd]
        print(f"{pd:<40} {p['files']:>6} {p['bytes']:>12} {p['other']:>10}")
    total = {k: sum(p[k] for p in parts.values()) for k in ("files", "bytes", "other")}
    print(f"{'total':<40} {total['files']:>6} {total['bytes']:>12} {total['other']:>10}")

    print()
    print(f"{'part directory':<30} {'column':<24} {'compressed B':>12} "
          f"{'raw B':>12} {'ratio':>6}  codecs")
    for (pd, name) in sorted(cols):
        c = cols[(pd, name)]
        ratio = c["comp"] / c["raw"] if c["raw"] else 0.0
        print(f"{pd:<30} {name:<24} {c['comp']:>12} {c['raw']:>12} "
              f"{ratio:>6.3f}  {','.join(sorted(c['codecs']))}")

    print()
    print(f"{'codec':<12} {'compressed B':>12}")
    for codec in sorted(codecs):
        print(f"{codec:<12} {codecs[codec]:>12}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
