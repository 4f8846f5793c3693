#!/usr/bin/env python3
"""Parquet parity of two FdoSink output directories (the parquet form of
an FDO RFC 16 database, as `FdoSink.write` / `FdoSink.map2db` write it).
Run: python3 tools/compare_sink_dirs.py <dirA> <dirB>

Part files are matched by (table dir, level dir, part index, file
counter): every part of the file name except the write job's UUID.
Matched files must hold equal rows and schemas (field nullability and
schema metadata included), equal key-value footer metadata, and the
same number of row groups with the same row counts and sizes. Every
directory must also hold the same other file names (`_SUCCESS`,
`config.toml`, ...).

Footer bytes are not compared: parquet-mr writes a column chunk's
encodings from a hash set, whose order differs between two JVMs, so two
runs of one build differ in raw bytes. Exit 0 on parity, 1 otherwise.
"""
import os
import re
import sys

import pyarrow.parquet as pq

PART = re.compile(r"^part-(\d+)-[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}"
                  r"[.-](c\d{3})\..*parquet$")


def listing(root):
    """(part files by key, other file names by directory), relative to
    root; checksum files (`.<name>.crc`) are skipped."""
    parts, others = {}, {}
    for d, dirs, names in os.walk(root):
        dirs.sort()
        rel = os.path.relpath(d, root)
        for n in names:
            if n.startswith(".") and n.endswith(".crc"):
                continue
            m = PART.match(n)
            if m:
                parts[(rel, m.group(1), m.group(2))] = os.path.join(d, n)
            else:
                others.setdefault(rel, set()).add(n)
    return parts, others


def row_groups(meta):
    return [(meta.row_group(i).num_rows, meta.row_group(i).total_byte_size)
            for i in range(meta.num_row_groups)]


def compare(a, b):
    """The differences between part files a and b, as strings."""
    fa, fb = pq.ParquetFile(a), pq.ParquetFile(b)
    ma, mb = fa.metadata, fb.metadata
    out = []
    sa, sb = fa.schema_arrow, fb.schema_arrow
    if not sa.equals(sb, check_metadata=True):
        fields = [f"{x} != {y}" for x, y in zip(sa, sb) if not x.equals(y)]
        out.append("schema differs: " + ("; ".join(fields) or
                                          "field count or schema metadata"))
    if ma.metadata != mb.metadata:
        out.append("key-value metadata differs")
    if row_groups(ma) != row_groups(mb):
        out.append(f"row groups {row_groups(ma)} != {row_groups(mb)}")
    if not out and not fa.read().equals(fb.read()):
        out.append("rows differ")
    return out


def main(dir_a, dir_b):
    (pa, oa), (pb, ob) = listing(dir_a), listing(dir_b)
    bad = []
    for k in sorted(pa.keys() ^ pb.keys()):
        bad.append(f"{k}: only in {dir_a if k in pa else dir_b}")
    for d in sorted(oa.keys() | ob.keys()):
        if oa.get(d, set()) != ob.get(d, set()):
            bad.append(f"{d}: files {sorted(oa.get(d, set()))} != "
                       f"{sorted(ob.get(d, set()))}")
    for k in sorted(pa.keys() & pb.keys()):
        bad += [f"{k}: {x}" for x in compare(pa[k], pb[k])]
    for line in bad:
        print(line)
    print(f"{'FAIL' if bad else 'PASS'}: {len(pa.keys() & pb.keys())} part "
          f"files matched, {len(bad)} differences")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
