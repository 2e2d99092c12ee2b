"""Files, bytes and footer bytes per table-family leaf of an engine store.

Usage: python tools/store_files.py <dir>

``<dir>`` is an ``IncrementalRollup`` work dir (``tiers/d{n}/tier={t}/``,
``packed/d{n}/tier={t}/``, ``state/d{n}/``, ``metrics/snap_*/``, …) or a
batch store written by ``sinks/tier_tables.write_tier``
(``tiers/tier={t}/window_day=…/``). A leaf is a directory that holds
parquet files. For each leaf the table gives its file count, its bytes
on disk and the bytes of its files' parquet footers (pyarrow's
``FileMetaData.serialized_size``), then the same per family (the
leaf's top-level dir, as ``[tiers]``) and for the whole store
(``[total]``). Only ``*.parquet`` files count: not Spark's ``.crc``
checksums and ``_SUCCESS`` markers. No Spark session is started.
"""

from __future__ import annotations

import collections
import os
import sys

import pyarrow.parquet as pq


def leaf_stats(root: str) -> dict[str, list[int]]:
    """{leaf dir relative to ``root``: [files, bytes, footer bytes]}."""
    out: dict[str, list[int]] = {}
    for d, _, names in sorted(os.walk(root)):
        files = [n for n in sorted(names) if n.endswith(".parquet")]
        if not files:
            continue
        paths = [os.path.join(d, n) for n in files]
        out[os.path.relpath(d, root)] = [
            len(paths),
            sum(os.path.getsize(p) for p in paths),
            sum(pq.ParquetFile(p).metadata.serialized_size for p in paths),
        ]
    return out


def main(root: str) -> None:
    leaves = leaf_stats(root)
    families: dict[str, list[int]] = collections.defaultdict(lambda: [0, 0, 0])
    for leaf, stats in leaves.items():
        fam = families[leaf.split(os.sep)[0]]
        for i, v in enumerate(stats):
            fam[i] += v
    total = [sum(s[i] for s in leaves.values()) for i in range(3)]
    width = max([len(k) for k in leaves] + [len("leaf")])
    row = f"{{:<{width}}} {{:>6}} {{:>12}} {{:>12}}"
    print(row.format("leaf", "files", "bytes", "footer_B"))
    fams = [(f"[{k}]", v) for k, v in sorted(families.items())]
    for name, stats in [*leaves.items(), *fams, ("[total]", total)]:
        print(row.format(name, *stats))


if __name__ == "__main__":
    if len(sys.argv) != 2 or not os.path.isdir(sys.argv[1]):
        sys.exit(__doc__)
    main(sys.argv[1])
