"""Semantic checks for the near-dup operators (rows-only in the driver):
LSH candidates + exact Jaccard vs a brute-force Python oracle at sf0.001.
"""

from __future__ import annotations

import duckdb
import pytest

from local_datalakehouse_phase2_spark.operators.dedup import (
    SHINGLE,
    minhash_lsh_pairs,
    ngram_jaccard_dupes,
    simhash_pairs,
)


@pytest.fixture(scope="module")
def docs(sf_small=None):
    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, text FROM read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchall()
    return dict(rows)


def shingle_set(text: str) -> set[str]:
    toks = text.split(" ")
    n = max(len(toks) - SHINGLE, 0)
    return {" ".join(toks[i : i + SHINGLE]) for i in range(n + 1)}


def brute_force_pairs(docs: dict[int, str], threshold: float) -> set[tuple[int, int]]:
    ids = sorted(docs)
    sets = {i: shingle_set(docs[i]) for i in ids}
    out = set()
    for ai in range(len(ids)):
        for bi in range(ai + 1, len(ids)):
            a, b = ids[ai], ids[bi]
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter / union >= threshold:
                out.add((a, b))
    return out


def test_ngram_jaccard_matches_bruteforce(spark, sf_small, docs):
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_dupes(spark, sf_small).collect()
    }
    want = brute_force_pairs(docs, 0.6)
    # Exact-Jaccard-verified LSH output must be a SUBSET of truth (no false
    # positives) and catch the vast majority (LSH can miss borderline pairs).
    assert set(got) <= want, f"false positives: {set(got) - want}"
    recall = len(got) / len(want) if want else 1.0
    assert recall >= 0.9, f"recall {recall}: missed {want - set(got)}"
    # reported jaccard values are the true ones
    sets = {i: shingle_set(docs[i]) for i in docs}
    for (a, b), j in got.items():
        true_j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        assert abs(j - true_j) < 1e-6


def test_minhash_estimates_track_true_jaccard(spark, sf_small, docs):
    rows = minhash_lsh_pairs(spark, sf_small).collect()
    assert rows, "high-similarity pairs exist by construction"
    sets = {i: shingle_set(docs[i]) for i in docs}
    for r in rows:
        true_j = len(sets[r.doc_a] & sets[r.doc_b]) / len(sets[r.doc_a] | sets[r.doc_b])
        # the entry reports the EXACT jaccard and the estimator-accuracy flag
        assert abs(r.jaccard - true_j) < 1e-6, (r.doc_a, r.doc_b, r.jaccard, true_j)
        assert r.est_within_025, (r.doc_a, r.doc_b)
    # and the emitted set IS the true near-dup set (the bimodal-gap claim
    # the scale-honest oracle relies on)
    assert {(r.doc_a, r.doc_b) for r in rows} == brute_force_pairs(docs, 0.5)


def test_simhash_finds_near_identical_docs(spark, sf_small, docs):
    from local_datalakehouse_phase2_spark.operators.dedup import (
        _SIMHASH64,
        _fused_band_pairs,
        _simhash64,
        shingle_hash_frame,
    )
    from local_datalakehouse_phase2_spark.sources.loaders import parallel_scan

    base = shingle_hash_frame(parallel_scan(spark, sf_small, "documents")).select(
        "doc_id", "hs", _simhash64("hs").alias("simhash")
    )
    rows = _fused_band_pairs(base, **_SIMHASH64).filter("hamming <= 6").collect()
    pairs = {(r.doc_a, r.doc_b) for r in rows}
    # hamming<=6 on 64-bit simhash is a tighter near-dup bar than J>=0.6;
    # every simhash pair should be genuinely similar (J >= 0.3 at least)
    sets = {i: shingle_set(docs[i]) for i in docs}
    for a, b in pairs:
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        assert j >= 0.3, (a, b, j)
    # and the planted near-identical cluster must be detected
    want = brute_force_pairs(docs, 0.9)
    found = len(want & pairs)
    assert found / len(want) >= 0.8 if want else True
    # the registry entry exports the quality summary over these pairs
    summary = simhash_pairs(spark, sf_small).collect()[0]
    assert summary.n_true_dupes == len(brute_force_pairs(docs, 0.5))
    assert summary.blocking_recall_ok and summary.pair_recall_ok
    assert summary.precision_ok


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation must resolve a long chain (worst case for
    propagation rounds) and keep disjoint components separate."""
    from local_datalakehouse_phase2_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        # chain 1-2-3-4-5, triangle 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a bigint, doc_b bigint",
    )
    got = {r.doc_id: r.cluster for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_evaluates_edges_once(spark):
    """r17 lineage-cut gate: `connected_components` localCheckpoints the
    symmetrized edge list before the loop, so the caller's edge pipeline
    is evaluated ONCE — not once per CC action (labels init + every
    iteration's join + changed-count re-ran the whole dedup_clusters
    cand subtree pre-r17: signature UDF + band shuffle per iteration,
    50 jobs/run -> 41). Counted via an accumulator UDF inside the edge
    frame: Catalyst may evaluate the deterministic UDF once or twice
    within the single symmetrize action (the union's two branches), so
    the gate is <= 2 evaluations/row; the uncheckpointed form pays
    >= 2 actions more (chain needs >= 4 propagation rounds here)."""
    from pyspark.sql import functions as F

    from local_datalakehouse_phase2_spark.operators.dedup import connected_components

    calls = spark.sparkContext.accumulator(0)

    @F.udf("bigint")
    def tick(x):
        calls.add(1)
        return x

    base = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "doc_a bigint, doc_b bigint",
    )
    edges = base.select(tick("doc_a").alias("doc_a"), "doc_b")
    got = {r.doc_id: r.cluster for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    assert calls.value <= 2 * base.count(), (
        f"edge pipeline evaluated {calls.value} times for {base.count()} "
        "rows — the pre-loop sym localCheckpoint is gone and every CC "
        "action re-runs the caller's edge derivation"
    )


def test_exact_jaccard_pairs_matches_bruteforce(spark, sf_small):
    """The deterministic shingle-bucket edge generator must equal the
    all-pairs brute force at the same threshold."""
    from local_datalakehouse_phase2_spark.operators.dedup import (
        CC_JACCARD,
        _shingles,
        exact_jaccard_pairs,
    )
    from local_datalakehouse_phase2_spark.sources.loaders import load_table
    from pyspark.sql import functions as F

    d = load_table(spark, sf_small, "documents").filter(F.col("doc_id") < 200)
    got = {(r.doc_a, r.doc_b) for r in exact_jaccard_pairs(d).collect()}

    sh = d.select("doc_id", F.array_distinct(_shingles()).alias("sh"))
    brute = (
        sh.alias("x")
        .join(sh.alias("y"), F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            (
                F.size(F.array_intersect("x.sh", "y.sh"))
                / F.size(F.array_union("x.sh", "y.sh"))
            ).alias("j"),
        )
        .filter(F.col("j") >= CC_JACCARD)
    )
    want = {(r.a, r.b) for r in brute.collect()}
    assert got == want and len(want) > 0


def test_simhash_wide_blocking_recall_is_exact(spark, sf_small):
    """The 128-bit scale variant's blocking must have recall EXACTLY
    1.0 vs brute-force 128-bit Hamming over all pairs: <=6 flipped
    bits touch <=6 of the 8 16-bit blocks, so at least one of the 28
    block-pair combo keys matches — the Manku argument, verified
    empirically here."""
    import numpy as np
    from pyspark.sql import functions as F

    from local_datalakehouse_phase2_spark.operators.dedup import (
        _H2_FROM_HS,
        _SIMHASH_WIDE,
        _fused_band_pairs,
        _simhash64,
        shingle_hash_frame,
    )
    from local_datalakehouse_phase2_spark.sources.loaders import parallel_scan

    base = shingle_hash_frame(parallel_scan(spark, sf_small, "documents")).select(
        "doc_id",
        "hs",
        _simhash64("hs").alias("s1"),
        _simhash64(F.expr(_H2_FROM_HS)).alias("s2"),
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in _fused_band_pairs(base, **_SIMHASH_WIDE)
        .filter("hamming <= 6")
        .collect()
    }
    sigs = base.select("doc_id", "s1", "s2").collect()
    ids = np.array([r.doc_id for r in sigs])
    s1 = np.array([r.s1 for r in sigs], dtype=np.int64).astype(np.uint64)
    s2 = np.array([r.s2 for r in sigs], dtype=np.int64).astype(np.uint64)

    def bc(x):
        return np.unpackbits(x.view(np.uint8).reshape(-1, 8), axis=1).sum(1)

    brute = set()
    for i in range(len(ids)):
        h = bc(s1[i] ^ s1) + bc(s2[i] ^ s2)
        for j in np.where(h <= 6)[0]:
            if ids[i] < ids[j]:
                brute.add((int(ids[i]), int(ids[j])))
    assert got == brute  # not just recall 1.0: exactly the brute set


def test_ratcheted_floors_catch_recall_regression(spark, sf_small):
    """The r14 per-fixture floors (measured-minus-0.03) must BITE: a
    simulated ~20% pair-recall loss (a regression the old global 0.7 /
    0.3 floors would have passed) flips pair_recall_ok to False, while
    the unmutated pass stays green at the same floors."""
    from pyspark.sql import functions as F

    from local_datalakehouse_phase2_spark.operators.dedup import (
        _SIMHASH64,
        _SIMHASH_FLOORS,
        _SIMHASH_WIDE_FLOORS,
        _floors,
        _flags_summary,
        _fused_band_pairs,
        shingle_hash_frame,
        _simhash64,
    )
    from local_datalakehouse_phase2_spark.sources.loaders import parallel_scan

    d = parallel_scan(spark, sf_small, "documents")
    base = shingle_hash_frame(d).select(
        "doc_id", "hs", _simhash64("hs").alias("simhash")
    )
    pairs = _fused_band_pairs(base, **_SIMHASH64)
    floors = _floors(sf_small, _SIMHASH_FLOORS, (0.9, 0.7))
    assert floors != (0.9, 0.7)  # the fixture actually hits a ratchet
    ok = _flags_summary(pairs, *floors).collect()[0]
    assert ok.blocking_recall_ok and ok.pair_recall_ok and ok.precision_ok

    # mutation: silently drop ~20% of emitted pairs (hamming -> null on
    # every 5th doc_a) — a real regression of exactly the size the old
    # global floor ignored
    mutated = pairs.withColumn(
        "hamming", F.when(F.col("doc_a") % 5 != 0, F.col("hamming"))
    )
    bad = _flags_summary(mutated, *floors).collect()[0]
    assert not bad.pair_recall_ok

    # unknown corpora fall back to the conservative globals
    assert _floors("/nowhere/sf7", _SIMHASH_FLOORS, (0.9, 0.7)) == (0.9, 0.7)
    assert _floors("/nowhere/sf7", _SIMHASH_WIDE_FLOORS, (0.6, 0.3)) == (0.6, 0.3)
