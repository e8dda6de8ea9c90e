"""Measure the signature index's on-disk cost in both shingle modes
(VERDICT r10 item 3's 'measure index bytes at sf1/sf10 both modes').

Writes the index lineage (sig_frame) fresh in string mode and hashed
mode for each requested tier and reports, per mode, the total and
per-column bytes — compressed AND uncompressed, and under both parquet
dictionary settings:

- ``dict`` — the default writer. On the SYNTHETIC fixtures this regime
  flatters strings: the generated vocabulary is small, so every shingle
  occurrence is a ~2 B dictionary index in BOTH modes and the payloads
  measure ~equal. This is a fixture artifact, not the 100 TB story.
- ``nodict`` — dictionary encoding disabled (parquet falls back to
  PLAIN), the honest proxy for a real web corpus where the shingle
  vocabulary is Zipf-tailed and outgrows the ~1 MB dictionary-page cap:
  each string occurrence then costs its full bytes (~20-30 B for a
  word-3-gram) while a hash costs a flat 8 B. The strings/hashed ratio
  in THIS regime is the scale-relevant reduction.

    python tools/sig_index_bytes.py sf0.1 sf1 sf10

Prints one JSON line. Tier names resolve through harness.resolve_tier
(sf1/sf10 are the /tmp-derived tiers).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
for p in (str(REPO), str(REPO / "tools")):
    if p not in sys.path:
        sys.path.insert(0, p)


def column_bytes(index_dir: str) -> tuple[dict[str, int], dict[str, int]]:
    import glob

    import pyarrow.parquet as pq

    comp: dict[str, int] = defaultdict(int)
    uncomp: dict[str, int] = defaultdict(int)
    for f in glob.glob(os.path.join(index_dir, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for c in range(g.num_columns):
                col = g.column(c)
                # nested list columns report paths like sh.list.element
                root = col.path_in_schema.split(".")[0]
                comp[root] += col.total_compressed_size
                uncomp[root] += col.total_uncompressed_size
    return dict(comp), dict(uncomp)


def dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(d)
        for f in fs
    )


def main() -> None:
    from harness import resolve_tier

    from discogs_load_spark.queries import sig_index as si
    from discogs_load_spark.session import get_spark

    tiers = sys.argv[1:] or ["sf0.1", "sf1"]
    spark = get_spark(app_name="sig_index_bytes")
    work = tempfile.mkdtemp(prefix="sig_index_bytes_")
    result: dict[str, dict] = {}
    try:
        for tier in tiers:
            sf_dir = resolve_tier(spark, tier)
            docs = si._docs(spark, sf_dir)
            row: dict[str, dict] = {}
            for dict_label, dict_on in (("dict", "true"), ("nodict", "false")):
                for mode, hashed in (("strings", False), ("hashed", True)):
                    dest = os.path.join(work, f"{tier}_{dict_label}_{mode}")
                    (
                        si.sig_frame(docs, hashed=hashed)
                        .write.mode("overwrite")
                        .option("parquet.enable.dictionary", dict_on)
                        .parquet(dest)
                    )
                    comp, _ = column_bytes(dest)
                    total = dir_bytes(dest)
                    sig = sum(
                        v
                        for k, v in comp.items()
                        if k.startswith("h") and k[1:].isdigit()
                    )
                    row[f"{dict_label}_{mode}"] = {
                        "total_bytes": total,
                        "shingle_payload_bytes": comp.get("sh", 0),
                        "minhash_cols_bytes": sig,
                        "toks_bytes": comp.get("toks", 0),
                        # the dedup-index view: what a dedup pipeline
                        # pays for its artifact — the tokenized corpus
                        # (toks) is the text-analysis family's artifact
                        # and is priced separately
                        "dedup_payload_bytes": total - comp.get("toks", 0),
                    }
            for dict_label in ("dict", "nodict"):
                s = row[f"{dict_label}_strings"]
                h = row[f"{dict_label}_hashed"]
                row[f"{dict_label}_total_reduction_x"] = round(
                    s["total_bytes"] / max(h["total_bytes"], 1), 2
                )
                row[f"{dict_label}_dedup_payload_reduction_x"] = round(
                    s["dedup_payload_bytes"]
                    / max(h["dedup_payload_bytes"], 1),
                    2,
                )
            result[tier] = row
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
