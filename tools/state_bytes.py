"""Bytes of a crawl state dir by table, codec and column.

Usage:  python tools/state_bytes.py STATE_DIR

``STATE_DIR`` is a ``SparkCrawler`` state root (``plans/state.py``). Needs
pyarrow only, no Spark. A table is a top-level dir that holds Parquet files
(``fetch_log``, ``frontier``, ``seen``); every round and compacted dir under
it counts. Prints one line per table: its Parquet file count, rows, bytes
on disk, footer bytes (the Parquet metadata plus its length and magic), the
codecs of its column chunks, and its largest columns by compressed size.
The last line totals every file under the root, as crawlbench's
``state_mb`` does (checksum sidecars, manifests and the Bloom sidecar
included).
"""

from __future__ import annotations

import os
import sys

import pyarrow.parquet as pq

TOP_COLUMNS = 3


def _parquet_files(path: str) -> list:
    return sorted(
        os.path.join(d, f)
        for d, _dirs, files in os.walk(path) for f in files
        if f.endswith(".parquet")
    )


def table_stats(root: str) -> list:
    """One dict per table under ``root``, sorted by name: table, files,
    rows, bytes, footer_bytes, codecs (sorted names) and columns
    (column path → compressed bytes, largest first)."""
    out = []
    for table in sorted(os.listdir(root)):
        files = _parquet_files(os.path.join(root, table))
        if not files:
            continue
        rows = size = footer = 0
        codecs: set = set()
        columns: dict = {}
        for f in files:
            md = pq.ParquetFile(f).metadata
            rows += md.num_rows
            size += os.path.getsize(f)
            footer += md.serialized_size + 8
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    codecs.add(col.compression)
                    columns[col.path_in_schema] = (
                        columns.get(col.path_in_schema, 0)
                        + col.total_compressed_size
                    )
        out.append({
            "table": table, "files": len(files), "rows": rows, "bytes": size,
            "footer_bytes": footer, "codecs": sorted(codecs),
            "columns": dict(sorted(columns.items(), key=lambda kv: -kv[1])),
        })
    return out


def total_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root) for f in files
    )


def format_report(stats: list, total: int) -> str:
    lines = ["table        files    rows       bytes  footer  codec   "
             "top columns (compressed bytes)"]
    for t in stats:
        top = ", ".join(
            f"{name} {n}" for name, n in list(t["columns"].items())[:TOP_COLUMNS]
        )
        lines.append(
            f"{t['table']:<11}  {t['files']:>5}  {t['rows']:>6}  "
            f"{t['bytes']:>10}  {t['footer_bytes']:>6}  "
            f"{'+'.join(t['codecs']):<6}  {top}"
        )
    lines.append(f"all files under the root: {total} bytes")
    return "\n".join(lines)


def main(argv: list) -> int:
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    print(format_report(table_stats(argv[0]), total_bytes(argv[0])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
