"""Counted scale curves for the near-gate dedup entries (r15, VERDICT
item 3).

A wall-clock ratio under a noisy gate is weak evidence; this tool
states each entry's growth law from COUNTS — cheap aggregations over
the exact production frames (via dedup._fused_keyed and the
incremental path's own helpers), load-independent by construction.

Per sf rung (sf1 = 50k docs, sf10 = 500k docs) it records, per band
family (fam0 = MinHash bands, fam1 = SimHash combo tables):
  - band rows (explode volume = shuffle input),
  - pairable buckets (1 < size <= MAX_BUCKET), their member rows, the
    largest bucket, and sum C(m,2) (the pair-explode volume — the
    quantity that blows up when structure, not dupe volume, grows),
  - over-cap buckets and the pair volume the cap DROPS,
and from the finished pair frame: distinct pairs, MinHash-collided
pairs (= the verify/annotation set), combo-only pairs, true dupes.
For dedup_incremental_minhash: index rows, batch keys, cross/within
candidates, verified pairs.

Writes/updates the "counted_curves" block in BENCH_ladder.json and
prints the per-entry sf10/sf1 count ratios.

Usage: python tools/count_curves.py [--sf1 DIR] [--sf10 DIR]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from local_datalakehouse_phase2_spark.operators import dedup
from local_datalakehouse_phase2_spark.operators.dedup import (
    MAX_BUCKET,
    _fused_band_pairs,
    _fused_keyed,
    _H2_FROM_HS,
    _SIMHASH64,
    _SIMHASH_WIDE,
    _simhash64,
    band_keys,
    lsh_candidate_pairs,
    shingle_hash_frame,
    verified_jaccard,
)
from local_datalakehouse_phase2_spark.session import get_spark
from local_datalakehouse_phase2_spark.sources.loaders import parallel_scan

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bucket_counts(keyed) -> list[dict]:
    sizes = keyed.groupBy("fam", "k1", "k2").agg(F.count("*").alias("m"))
    rows = (
        sizes.groupBy("fam")
        .agg(
            F.sum("m").alias("band_rows"),
            F.sum(F.when((F.col("m") > 1) & (F.col("m") <= MAX_BUCKET), 1)).alias(
                "buckets_pairable"
            ),
            F.sum(
                F.when(
                    (F.col("m") > 1) & (F.col("m") <= MAX_BUCKET),
                    F.col("m") * (F.col("m") - 1) / 2,
                )
            ).alias("pair_volume"),
            F.max("m").alias("max_bucket"),
            F.sum(F.when(F.col("m") > MAX_BUCKET, 1)).alias("buckets_over_cap"),
            F.sum(
                F.when(F.col("m") > MAX_BUCKET, F.col("m") * (F.col("m") - 1) / 2)
            ).alias("pair_volume_dropped_by_cap"),
        )
        .orderBy("fam")
        .collect()
    )
    return [
        {k: (int(v) if v is not None else 0) for k, v in r.asDict().items()}
        for r in rows
    ]


def _pair_counts(pairs, has_combo: bool) -> dict:
    agg = pairs.agg(
        F.count("*").alias("pairs_distinct"),
        F.sum(F.col("jaccard").isNotNull().cast("long")).alias("pairs_minhash"),
        F.sum(
            F.coalesce(F.col("jaccard") >= 0.5, F.lit(False)).cast("long")
        ).alias("true_dupes"),
        *(
            [
                F.sum(
                    (
                        F.col("hamming").isNotNull() & F.col("jaccard").isNull()
                    ).cast("long")
                ).alias("pairs_combo_only")
            ]
            if has_combo
            else []
        ),
    ).collect()[0]
    return {k: int(v or 0) for k, v in agg.asDict().items()}


def _entry_counts(spark, sf_dir: str, which: str) -> dict:
    d = parallel_scan(spark, sf_dir, "documents")
    if which == "ngram_jaccard_dupes":
        base = shingle_hash_frame(d)
        keyed = _fused_keyed(base)
        out = {"fams": _bucket_counts(keyed)}
        out.update(_pair_counts(_fused_band_pairs(base), has_combo=False))
        return out
    if which == "simhash_wide_pairs":
        base = shingle_hash_frame(d).select(
            "doc_id",
            "hs",
            _simhash64("hs").alias("s1"),
            _simhash64(F.expr(_H2_FROM_HS)).alias("s2"),
        )
        keyed = _fused_keyed(
            base,
            combo_keys=_SIMHASH_WIDE["combo_keys"],
            sim_cols=_SIMHASH_WIDE["sim_cols"],
        )
        pairs = _fused_band_pairs(base, **_SIMHASH_WIDE)
        out = {"fams": _bucket_counts(keyed)}
        out.update(_pair_counts(pairs, has_combo=True))
        return out
    if which == "simhash_pairs":
        base = shingle_hash_frame(d).select(
            "doc_id", "hs", _simhash64("hs").alias("simhash")
        )
        keyed = _fused_keyed(
            base, combo_keys=_SIMHASH64["combo_keys"], sim_cols=_SIMHASH64["sim_cols"]
        )
        pairs = _fused_band_pairs(base, **_SIMHASH64)
        out = {"fams": _bucket_counts(keyed)}
        out.update(_pair_counts(pairs, has_combo=True))
        return out
    if which == "dedup_clusters":
        from local_datalakehouse_phase2_spark.operators.dedup import (
            CC_BUCKET_CAP,
            CC_JACCARD,
            CC_N_HASHES,
            _minhash_sigs_cc,
            _shingle_hashes,
            capped_banded_edges,
        )

        sh = d.select(
            "doc_id", F.explode(F.array_distinct(_shingle_hashes())).alias("s")
        )
        counts = sh.groupBy("s").agg(F.count("*").alias("bucket"))
        per_doc = (
            sh.join(counts.hint("shuffle_hash"), "s")
            .groupBy("doc_id")
            .agg(
                F.collect_list(
                    F.when(F.col("bucket") <= CC_BUCKET_CAP, F.col("s"))
                ).alias("hs"),
                F.count("*").alias("n"),
            )
            .filter(F.size("hs") > 0)
        )
        sigs = per_doc.select("doc_id", _minhash_sigs_cc("hs").alias("sig"))
        n_bands = CC_N_HASHES // 2
        bands = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.col("sig")[2 * b], F.col("sig")[2 * b + 1], F.lit(b)
                        ).alias("bh"),
                    )
                    for b in range(n_bands)
                ]
            )
        )
        bsizes = (
            sigs.select("doc_id", bands.alias("bb"))
            .select(F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
            .groupBy("band", "bh")
            .agg(F.count("*").alias("m"))
        )
        brow = bsizes.agg(
            F.sum("m").alias("band_rows"),
            F.sum(F.when(F.col("m") > 1, 1)).alias("buckets_pairable"),
            F.sum(
                F.when(F.col("m") > 1, F.col("m") * (F.col("m") - 1) / 2)
            ).alias("pair_volume"),
            F.max("m").alias("max_bucket"),
        ).collect()[0]
        shingle_rows = counts.agg(
            F.count("*").alias("distinct_shingles"),
            F.sum(F.when(F.col("bucket") > CC_BUCKET_CAP, 1)).alias(
                "shingles_over_cap"
            ),
        ).collect()[0]
        edges = capped_banded_edges(d, threshold=CC_JACCARD).count()
        return {
            **{k: int(v or 0) for k, v in brow.asDict().items()},
            **{k: int(v or 0) for k, v in shingle_rows.asDict().items()},
            "edges": edges,
        }
    if which == "dedup_incremental_minhash":
        old = d.filter(F.col("doc_id") % 3 != 0)
        new = d.filter(F.col("doc_id") % 3 == 0)
        idx = band_keys(old)
        nb = band_keys(new)
        cross = dedup._cross_pairs(idx, nb)
        within = lsh_candidate_pairs(new).select("doc_a", "doc_b")
        cand = cross.unionByName(within).distinct()
        verified = verified_jaccard(cand, d)
        return {
            "index_rows": idx.count(),
            "batch_band_rows": nb.count(),
            "cross_candidates": cross.count(),
            "within_candidates": within.count(),
            "candidates_distinct": cand.count(),
            "verified_pairs": verified.count(),
        }
    raise ValueError(which)


ENTRIES = [
    "ngram_jaccard_dupes",
    "simhash_pairs",
    "simhash_wide_pairs",
    "dedup_incremental_minhash",
    "dedup_clusters",
]


def _ratios(a, b, prefix=""):
    out = {}
    for k, va in a.items():
        vb = b.get(k)
        if isinstance(va, list):
            for fa, fb in zip(va, vb or []):
                fam = fa.get("fam")
                out.update(_ratios(fa, fb, prefix=f"fam{fam}."))
        elif isinstance(va, (int, float)) and k != "fam" and isinstance(vb, (int, float)):
            out[prefix + k] = round(vb / va, 2) if va else None
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf1", default="/tmp/spark_graft_sf1")
    ap.add_argument("--sf10", default="/tmp/spark_graft_sf10")
    ap.add_argument("--entries", default=",".join(ENTRIES))
    args = ap.parse_args()
    spark = get_spark(app_name="count_curves")
    result = {}
    for name in args.entries.split(","):
        c1 = _entry_counts(spark, args.sf1, name)
        c10 = _entry_counts(spark, args.sf10, name)
        result[name] = {
            "sf1": c1,
            "sf10": c10,
            "ratio_sf10_over_sf1": _ratios(c1, c10),
        }
        print(name, json.dumps(result[name]["ratio_sf10_over_sf1"]), flush=True)
    path = os.path.join(REPO, "BENCH_ladder.json")
    doc = json.load(open(path)) if os.path.exists(path) else {}
    block = doc.setdefault(
        "counted_curves",
        {"fixture": "sf1=50k docs, sf10=500k docs (make_sf.py x10)", "entries": {}},
    )
    # MERGE per entry — a targeted --entries re-run must not drop the
    # other entries' recorded curves
    block.setdefault("entries", {}).update(result)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps({n: r["ratio_sf10_over_sf1"] for n, r in result.items()}, indent=1))


if __name__ == "__main__":
    main()
