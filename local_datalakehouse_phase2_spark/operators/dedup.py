"""Deduplication operators over `documents` (north-star Phase 4).

Four families, all expressed with built-in Spark SQL array/hash
functions (JVM-side, codegen'd — no Python UDFs):

- exact:    md5 fingerprint group-by (dedup_exact, dedup_hash_census)
- MinHash:  word-shingle MinHash signatures + LSH banding; candidate
            pairs come from equi-joining band buckets, NEVER from a
            cross join (minhash_lsh_pairs)
- Jaccard:  exact shingle-set Jaccard computed only on LSH candidates
            (ngram_jaccard_dupes)
- SimHash:  64/128-bit shingle-hash sign-sum + block-pair banding for
            Hamming-distance candidates, keyed in the same fused pass
            as the MinHash bands (_fused_band_pairs); the registry
            entries export oracle-recomputable quality summaries over
            its `hamming` column (simhash_pairs, simhash_wide_pairs)

Scale design (the whole point at 100 TB): near-dup detection is
shingle -> signature (narrow, linear) -> explode bands (x BANDS) ->
shuffle on (band, signature) -> join within buckets. Work is
proportional to corpus + bucket collisions, not corpus^2. Skewed
buckets (boilerplate text) would be salted or capped in production;
exact Jaccard verification only touches candidate pairs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..localrows import local_df
from ..registry import register
from ..sources.loaders import load_table, parallel_scan

N_HASHES = 32  # MinHash signature length
N_BANDS = 8  # LSH bands (4 rows per band) => catches J >~ 0.6
SHINGLE = 3  # words per shingle

def _shingles_sql(col: str = "text") -> str:
    # guarded for docs shorter than SHINGLE words: they have NO
    # shingles (the DuckDB oracles' range(1, len-1) semantics); the
    # unguarded sequence(0, greatest(size-3, 0)) form would emit one
    # truncated shingle and silently diverge cross-engine
    toks = f"split({col}, ' ')"
    return (
        f"CASE WHEN size({toks}) < {SHINGLE} THEN array() "
        f"ELSE transform(sequence(0, size({toks}) - {SHINGLE}),"
        f" si -> concat_ws(' ', slice({toks}, si + 1, {SHINGLE}))) END"
    )


def _shingles(col: str = "text"):
    """Word SHINGLE-grams as an array<string> (built-in transform over
    token index sequence)."""
    return F.expr(_shingles_sql(col))


def _shingle_hashes(col: str = "text"):
    """array<bigint>: xxhash64 of each shingle, hashed JVM-side inside
    the projection (one hash per shingle, computed exactly once)."""
    return F.expr(f"transform({_shingles_sql(col)}, s -> xxhash64(s))")


def _has_shingles(col: str = "text"):
    """Pushdown-SAFE equivalent of `size(_shingle_hashes()) > 0`: a doc
    has shingles iff it has >= SHINGLE words.

    Why not filter on the hash array directly: Catalyst substitutes the
    full shingle projection into the filter and pushes it below the
    parallel_scan repartition Exchange — the ENTIRE shingle pipeline
    (split -> transform -> concat_ws -> xxhash64 per shingle) then
    evaluates in the pre-shuffle stage, which on a single-file source
    is ONE task: the most expensive expression in the query running
    serially, and then AGAIN post-shuffle as the UDF's input
    projection. Measured at sf0.1 (round 8): the signature stage alone
    dropped ~1.5 s -> ~0.1 s once the filter became this cheap
    word-count check that can sit below the Exchange harmlessly."""
    return F.expr(f"size(split({col}, ' ')) >= {SHINGLE}")


# Deterministic 2-universal hash family over a 31-bit Mersenne prime:
# a_i * h32 + b_i mod P fits 64-bit arithmetic (a,b < 2^31, h32 < 2^32).
# Parameters come from a seeded SHA-256 counter stream — stable across
# processes and executors, no RNG state.
_MERSENNE31 = (1 << 31) - 1


def _hash_params(n: int) -> tuple[np.ndarray, np.ndarray]:
    a, b = [], []
    i = 0
    while len(a) < n:
        h = hashlib.sha256(f"minhash:{i}".encode()).digest()
        va = int.from_bytes(h[:8], "little") % (_MERSENNE31 - 1) + 1
        vb = int.from_bytes(h[8:16], "little") % _MERSENNE31
        a.append(va)
        b.append(vb)
        i += 1
    return np.array(a, dtype=np.uint64), np.array(b, dtype=np.uint64)


def _make_minhash_udf(n_hashes: int):
    """Build an Arrow-batched MinHash-signature UDF of `n_hashes`
    slots. Per-doc signature from its shingle-hash array, one Arrow
    batch at a time: concatenate all docs' hashes into one flat vector,
    apply each affine family vectorized, and take per-doc minima with a
    single minimum.reduceat per family. Row-local (no explode, no
    shuffle) — the signature job is a pure narrow map. A factory so
    dedup_clusters can mirror its oracle's 24x2 banding (48 slots)
    without widening the shared 32-slot signature every other entry
    pays for. (Type objects, not DDL strings: string return types are
    parsed at decoration time and require an active SparkSession,
    which breaks import.)"""

    @pandas_udf(ArrayType(LongType()))
    def _sigs(hs: pd.Series) -> pd.Series:
        arrs = hs.to_numpy()
        lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=len(arrs))
        offsets = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in arrs]).astype(np.uint64)
        h32 = flat >> np.uint64(32)  # top 32 bits of xxhash64
        A, B = _hash_params(n_hashes)
        out = np.empty((len(arrs), n_hashes), dtype=np.int64)
        for i in range(n_hashes):
            m = (A[i] * h32 + B[i]) % np.uint64(_MERSENNE31)
            out[:, i] = np.minimum.reduceat(m, offsets).astype(np.int64)
        return pd.Series(list(out))

    return _sigs


_minhash_sigs = _make_minhash_udf(N_HASHES)


@pandas_udf(LongType())
def _simhash64(hs: pd.Series) -> pd.Series:
    """64-bit SimHash from the same shingle-hash array: unpack each
    xxhash64 into 64 bits (np.unpackbits on the raw bytes — no 64x
    uint64 blow-up), per-doc bit sums via cumsum-difference (segment
    sum; add.reduceat over axis 0 degrades superlinearly with batch
    size — measured 14.8 s vs 0.05 s on a 260k x 64 batch), majority-
    vote, repack. Fully vectorized; zero Python-level hashing."""
    arrs = hs.to_numpy()
    lens = np.fromiter((len(x) for x in arrs), dtype=np.int64, count=len(arrs))
    offsets = np.zeros(len(arrs), dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in arrs]).astype(np.uint64)
    bits = np.unpackbits(flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little")
    cs = np.zeros((bits.shape[0] + 1, 64), dtype=np.int64)
    np.cumsum(bits, axis=0, out=cs[1:])
    ones = cs[offsets + lens] - cs[offsets]  # docs x 64 segment sums
    maj = (ones * 2 > lens[:, None]).astype(np.uint64)
    packed = np.packbits(maj.astype(np.uint8), axis=1, bitorder="little")
    sim = packed.view(np.uint64).reshape(-1)
    return pd.Series(sim.astype(np.int64))


def with_minhash(d: DataFrame, hs: DataFrame | None = None) -> DataFrame:
    """documents -> (doc_id, sig: array<bigint>).

    Shape history (measured at sf0.1, 50k docs): a pure array-expression
    version (array_min over transform per family) re-evaluates the
    shingle string-building N_HASHES times — ~6x slower. An explode +
    32-min-aggregate plan hashes each shingle once but shuffles every
    (doc, shingle-hash) pair. The current shape is row-local: shingles
    are hashed JVM-side in the projection, then ONE Arrow-batched UDF
    computes all 32 minima — no explode stage, no shuffle at all, and
    at 100 TB the signature job stays a narrow map over the corpus.

    Docs with NO shingles (shorter than SHINGLE words) are dropped
    before the UDF: they have nothing to compare, and an empty segment
    would break the reduceat segment math.

    `hs` — a precomputed (doc_id, hs) shingle-hash frame to build the
    signatures from instead of deriving one (the dual-signature
    entries cache ONE hash pass and feed it to both UDFs)."""
    if hs is None:
        hs = shingle_hash_frame(d)
    return hs.select("doc_id", _minhash_sigs("hs").alias("sig"))


def shingle_hash_frame(d: DataFrame) -> DataFrame:
    """(doc_id, hs: array<bigint>): the corpus' shingle-hash pass —
    the shared upstream of every signature family. Entries that need
    TWO signature kinds over the same corpus (simhash blocking + the
    minhash truth census) cache this frame so the scan + split +
    shingle-build + xxhash64 pipeline runs once, not per family."""
    return d.filter(_has_shingles()).select(
        "doc_id", _shingle_hashes().alias("hs")
    )


MAX_BUCKET = 1000  # cap pathological buckets (boilerplate text) — see doc below


def _band_structs():
    """The LSH band-key projection: explode expression yielding one
    (band, bh) struct per band, where bh xxhash64-combines the band's
    signature slots. Shared by the batch pair generator and the
    persisted band-key index so the two can never diverge."""
    rows_per_band = N_HASHES // N_BANDS
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(
                        *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)],
                        F.lit(b),
                    ).alias("bh"),
                )
                for b in range(N_BANDS)
            ]
        )
    )


def band_keys(d: DataFrame) -> DataFrame:
    """documents -> (doc_id, band, bh): the persisted-index rows for
    incremental dedup — one row per (doc, band), the doc's LSH bucket
    key in that band. This is the ONLY per-corpus-row computation the
    incremental path ever stores; re-ingesting the corpus is never
    needed again (dedup_incremental)."""
    return (
        with_minhash(d)
        .select("doc_id", _band_structs().alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    )


# SimHash block-pair key tables (Manku/Jain/Sarma, WWW'07). 64-bit
# variant: 8 blocks of 8 bits keyed on every C(8,2)=28 block PAIR
# (16-bit keys) — hamming <= 6 flips <= 6 blocks, so >= 2 blocks,
# hence >= 1 combo, match exactly: recall 1.0, collisions 256x lower
# than single-block 8-bit keys.
_SIMHASH64_COMBO_KEYS = [
    f"{cid} * 65536 + ((simhash >> {i * 8}) & 255) * 256"
    f" + ((simhash >> {j * 8}) & 255)"
    for cid, (i, j) in enumerate((i, j) for i in range(8) for j in range(i + 1, 8))
]


def _wide_block(b: int) -> str:
    # 128-bit fingerprint as 8 blocks of 16 bits: blocks 0-3 from s1,
    # 4-7 from s2
    col = "s1" if b < 4 else "s2"
    return f"(({col} >> {(b % 4) * 16}) & 65535)"


# 128-bit variant: same 28 combo tables over 16-bit blocks -> 32-bit
# keys, deferring the birthday collision term by 2^16 (the documented
# scale path; SCALE_CORRECTNESS.md r11 measurement).
_SIMHASH_WIDE_COMBO_KEYS = [
    f"{cid}L * 4294967296L + {_wide_block(i)} * 65536L + {_wide_block(j)}"
    for cid, (i, j) in enumerate((i, j) for i in range(8) for j in range(i + 1, 8))
]

# Each width's `_fused_band_pairs` arguments (combo keys, pair Hamming
# distance, fingerprint columns). The entries, the brute-force tests
# and tools/count_curves.py all pass these: one pair surface.
_SIMHASH64 = {
    "combo_keys": _SIMHASH64_COMBO_KEYS,
    "ham_sql": "bit_count(a.simhash ^ b.simhash)",
    "sim_cols": ("simhash",),
}
_SIMHASH_WIDE = {
    "combo_keys": _SIMHASH_WIDE_COMBO_KEYS,
    "ham_sql": "bit_count(a.s1 ^ b.s1) + bit_count(a.s2 ^ b.s2)",
    "sim_cols": ("s1", "s2"),
}


def _fused_keyed(
    base: DataFrame,
    want_est: bool = False,
    combo_keys: list[str] | None = None,
    sim_cols: tuple[str, ...] = (),
    _mutate: str | None = None,
) -> DataFrame:
    """The fused pass's family-tagged band-key frame — (fam, k1, k2,
    m) with one row per (doc, band-or-combo key) and light member
    structs. Extracted from `_fused_band_pairs` so the counted-curve
    tool (tools/count_curves.py) measures the exact production key
    stream, not a reimplementation that could drift."""
    rows_per_band = N_HASHES // N_BANDS
    sigs = base.select("doc_id", *sim_cols, _minhash_sigs("hs").alias("sig"))
    fam0 = [
        F.struct(
            F.lit(0).alias("fam"),
            F.lit(b).cast("long").alias("k1"),
            F.xxhash64(
                *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)],
                F.lit(b),
            ).alias("k2"),
        )
        for b in range(N_BANDS)
    ]
    fam1 = [
        F.struct(
            F.lit(1).alias("fam"),
            F.expr(k).cast("long").alias("k1"),
            F.lit(0).cast("long").alias("k2"),
        )
        for k in (combo_keys or [])
    ]
    if _mutate == "drop_fam0":
        fam0 = []
    if _mutate == "drop_fam1":
        fam1 = []
    fams = [*fam0, *fam1]
    if not fams:
        # a mutation deleted the only family: per-doc unique keys, so
        # every bucket is a singleton and no pair survives
        fams = [
            F.struct(
                F.lit(-1).alias("fam"),
                F.xxhash64(F.col("doc_id"), F.lit(-1)).alias("k1"),
                F.lit(0).cast("long").alias("k2"),
            )
        ]
    is0 = F.col("fk.fam") == 0
    # light members: fingerprints only ride the bucket shuffle, and
    # only on their own family's rows; under want_est the 32-slot
    # signature (256 B FIXED-width — bounded, unlike hs) rides fam0
    # rows so est_jaccard forms in-bucket with no UDF re-run later
    member = F.struct(
        F.col("doc_id"),
        *([F.when(is0, F.col("sig")).alias("sig")] if want_est else []),
        *[F.when(~is0, F.col(c)).alias(c) for c in sim_cols],
    )
    return sigs.select(
        "doc_id", "sig", *sim_cols, F.explode(F.array(*fams)).alias("fk")
    ).select(
        F.col("fk.fam").alias("fam"),
        F.col("fk.k1").alias("k1"),
        F.col("fk.k2").alias("k2"),
        member.alias("m"),
    )


def _fused_band_pairs(
    base: DataFrame,
    want_est: bool = False,
    combo_keys: list[str] | None = None,
    ham_sql: str | None = None,
    sim_cols: tuple[str, ...] = (),
    _mutate: str | None = None,
) -> DataFrame:
    """ONE-pass candidate generation + exact verification for every
    LSH-family entry: `base` is (doc_id, hs[, sim_cols...]) — the
    shingle-hash frame, plus any SimHash fingerprints computed in the
    same projection — and the result is one row per candidate pair:

        (doc_a, doc_b[, est_jaccard], jaccard[, hamming])

    where `jaccard` is the EXACT hashed-shingle Jaccard (non-null iff
    the pair collided in a MinHash band) and `hamming` the SimHash
    distance (non-null iff it collided in a block-pair combo table).

    Shape (r14, settled by three rounds of measurement at 5k/50k/500k
    docs): one family-tagged explode emits the 8 MinHash band keys AND
    the 28 SimHash combo keys per doc, so candidate buckets for BOTH
    families form in a single shuffle and the corpus pipeline (scan ->
    shingle -> xxhash64 -> signature UDFs) runs exactly once — the
    r13 shape ran it once per family per reference (the summary's
    3-way union re-evaluated the SimHash pipeline twice). Bucket
    members carry ONLY (doc_id [+ the 8-16 byte fingerprints]): the
    first fused draft shipped each doc's shingle-hash array per band
    row for in-bucket exact Jaccard, which measured 25+ minutes of
    GC/spill thrash at 500k docs — ~85% of band rows land in
    singleton buckets, so almost all of that ~6 GB payload shuffle
    was wasted (and a hot-bucket prefilter that avoided it re-ran the
    signature UDFs, costing ~2 s of Python-stage warmup per query at
    bench scale). Exact Jaccard instead annotates the DEDUPLICATED
    pair frame via a broadcast-semi-join-restricted re-read:
    candidates are O(dupes) — corpus-sparse at any scale — so the
    verify work is candidate-sized, the heavy arrays never enter a
    wide shuffle, and the re-derived projections evaluate only for
    the docs the pairs touch. Measured: value-identical at every
    fixture sf; 500k docs ~30-50 s per entry (linear vs 50k).

    r15 refinements, each settled by a 4-variant interleaved A/B at
    sf0.1 (committed/ckpt/sig/sigckpt medians 3.00/2.56/2.01/1.90 s
    on minhash_lsh_pairs — the r14 +19% clawback, VERDICT item 4):
    - `want_est` carries the 32-slot signature THROUGH the bucket
      shuffle on fam0 member rows (256 B fixed-width — NOT the
      unbounded `hs` array that caused the sf10 GC/spill blowup) and
      computes `est_jaccard` at pair formation, so the annotation
      re-read never re-runs the signature UDF (whose ~2 s Python-
      stage warmup was the r14 regression).
    - r15 localCheckpoint'd `pairs` for MinHash-ONLY entries to stop
      the annotation branches re-planning the band-shuffle subtree
      three times; r16 removed both the re-plan AND the barrier: the
      annotation id set now derives from `buckets` pre-pair-shuffle
      (same set, see the inline comment below) and AQE stage reuse
      serves every consumer from the one bucket exchange, which
      measured faster than the checkpoint in a same-session
      interleaved A/B and leaves nothing materialized at any sf.

    Jaccard over distinct xxhash64 values equals Jaccard over shingle
    strings up to a ~1e-15/pair 64-bit collision — below every other
    error source (the cross-engine sweep would surface one).

    `_mutate` — MUTATION-AUDIT seams (tests/test_fused_mutations.py,
    r15 VERDICT item 6), never set in product paths: "drop_fam0" /
    "drop_fam1" delete one band family, "c0_all" tags every pair as
    MinHash-collided, "no_singleton_filter" keeps 1-member buckets.
    Each exists to prove the banded DuckDB comparison (or a crafted
    brute-force fixture) actually discriminates that semantic
    dimension — or, for the singleton filter, to witness that it is
    pure perf (output-identical without it).
    """
    keyed = _fused_keyed(base, want_est, combo_keys, sim_cols, _mutate)
    min_bucket = 0 if _mutate == "no_singleton_filter" else 1
    buckets = (
        keyed.groupBy("fam", "k1", "k2")
        .agg(F.collect_list("m").alias("ms"))
        .filter((F.size("ms") > min_bucket) & (F.size("ms") <= MAX_BUCKET))
    )
    # c0 marks a MinHash-band collision: the fused contract is that
    # jaccard/est are non-null exactly for those pairs
    c0_expr = F.lit(True) if _mutate == "c0_all" else (F.col("fam") == 0)
    est_in = F.round(
        F.size(
            F.filter(
                F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / F.lit(float(N_HASHES)),
        6,
    )
    pair_cols = [
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        c0_expr.cast("long").alias("c0"),
        *([est_in.alias("est_jaccard")] if want_est else []),
        *(
            [F.when(F.col("fam") == 1, F.expr(ham_sql)).alias("hamming")]
            if combo_keys
            else []
        ),
    ]
    aggs = (
        [F.max("c0").alias("c0")]
        + ([F.max("est_jaccard").alias("est_jaccard")] if want_est else [])
        + ([F.max("hamming").alias("hamming")] if combo_keys else [])
    )
    pairs = (
        buckets.select("fam", F.explode("ms").alias("a"), "ms")
        .select("fam", "a", F.explode("ms").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(*pair_cols)
        .groupBy("doc_a", "doc_b")
        .agg(*aggs)
    )
    # candidate-restricted annotation: the shingle projections
    # evaluate only for the docs the pairs touch — the broadcast
    # semi-join restriction Catalyst can't derive itself (no
    # partition-level dynamic pruning here). est_jaccard needs no
    # annotation at all since r15: it formed in-bucket. Only
    # MinHash-band-collided pairs (c0) need annotation at all: their
    # id set is O(dupes) — the corpus-sparse bound that makes the
    # broadcast sound at any sf. The SimHash combo families' candidate
    # ids are NOT in that bound (the 16-bit birthday junk approaches
    # the whole corpus at 500k docs, and force-broadcasting it blew
    # the driver — the sf10 ladder caught it), so combo-only pairs
    # LEFT-join and keep null jaccard, which is the fused contract
    # anyway.
    #
    # r16: the id set derives from `buckets`, BEFORE the pair explode +
    # (doc_a, doc_b) shuffle. Docs in a c0 pair are exactly the members
    # of multi-member (2..MAX_BUCKET) fam0 buckets, so the set is
    # identical to the r15 pairs-derived form — but this branch shares
    # the ONE bucket Exchange with the pair path via AQE stage reuse
    # (guide §2.4), where the pairs-derived form re-planned the whole
    # corpus pipeline (scan -> shingle -> signature UDFs -> band
    # explode -> bucket shuffle) once per annotation probe: the
    # executed simhash_pairs final plan carried TWO live bucket
    # ShuffleQueryStages, each with its own ArrowEvalPython pass. Two
    # traps, both measured:
    # - the fam-0 restriction must be a WHEN projection, NOT a filter:
    #   `filter(fam == 0)` pushes through the aggregate below the
    #   exchange (fam is a grouping key) and the two exchanges stop
    #   canonicalizing equal, killing the reuse;
    # - everything stays LAZY — materializing serializes a pipeline
    #   pass before the main job (eager ids checkpoint: simhash_pairs
    #   2.88 -> 4.34 s median; the r15 pairs localCheckpoint on the
    #   MinHash-only entries, rational when the ids re-planned the
    #   subtree 3x, measured 2.80/2.08 -> 2.33/1.75 s min-wall
    #   (minhash/ngram) against this form in a same-session
    #   interleaved A/B, rows identical). This also deletes the only
    #   fused-path materialization, so no checkpointed blocks
    #   accumulate across a session at any sf.
    # Under the c0_all mutation every pair counts as c0, so the id
    # set widens to every family's bucket members to match.
    member_ids = (
        F.col("ms.doc_id")
        if _mutate == "c0_all"
        else F.when(F.col("fam") == 0, F.col("ms.doc_id")).otherwise(
            F.array().cast("array<long>")
        )
    )
    ids = buckets.select(F.explode(member_ids).alias("doc_id")).distinct()
    ann = base.join(F.broadcast(ids), "doc_id").select(
        "doc_id",
        F.array_distinct("hs").alias("sh"),
    )
    how = "left" if combo_keys else "inner"
    out = pairs.join(
        ann.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
        "doc_a",
        how,
    ).join(
        ann.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
        "doc_b",
        how,
    )
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")),
        6,
    )
    is_c0 = F.col("c0") == 1
    return out.select(
        "doc_a",
        "doc_b",
        *([F.when(is_c0, F.col("est_jaccard")).alias("est_jaccard")] if want_est else []),
        F.when(is_c0, jac).alias("jaccard"),
        *(["hamming"] if combo_keys else []),
    )


def _flags_summary(
    pairs: DataFrame, blocking_floor: float, pair_floor: float
) -> DataFrame:
    """One-row quality summary of a SimHash blocking pass from the
    fused pair frame — every column independently recomputable
    (n_true_dupes) or a corpus-stable invariant claim (the booleans),
    so the oracle never pins engine-hash-specific pair lists. Each
    fused row already carries both families' evidence, so the flags
    are column expressions over ONE frame — no tagged 3-way union, no
    second pair shuffle (the union shape also re-evaluated the SimHash
    pipeline twice, once for the candidate stream and once for the
    emitted stream). truth = exact jaccard >= 0.5 (MinHash-banded,
    independent of the audited blocking); candidate = collided in a
    combo table; emitted = candidate at hamming <= 6."""
    t = F.coalesce(F.col("jaccard") >= 0.5, F.lit(False)).cast("long")
    c = F.col("hamming").isNotNull().cast("long")
    e = F.coalesce(F.col("hamming") <= 6, F.lit(False)).cast("long")
    n_true = F.coalesce(F.sum(t), F.lit(0))
    return pairs.agg(
        n_true.alias("n_true_dupes"),
        (F.coalesce(F.sum(t * c), F.lit(0)) >= n_true * F.lit(blocking_floor)).alias(
            "blocking_recall_ok"
        ),
        (F.coalesce(F.sum(t * e), F.lit(0)) >= n_true * F.lit(pair_floor)).alias(
            "pair_recall_ok"
        ),
        (F.coalesce(F.sum(e * (1 - t)), F.lit(0)) == 0).alias("precision_ok"),
    )


def lsh_candidate_pairs(
    d: DataFrame,
    hs: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures -> LSH band buckets -> within-bucket pairs.
    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b.

    Shape: ONE signature aggregation, ONE shuffle grouping (band,
    band-hash) buckets, then pair expansion inside each bucket via a
    double explode. (A self-join formulation computes the signature
    aggregation once per join side — the re-aliased branches defeat
    Spark's exchange reuse.) Buckets larger than MAX_BUCKET are dropped:
    they are boilerplate/degenerate text whose O(k^2) pairs would
    dominate the stage at corpus scale, and their members still pair up
    in the other, more selective bands.

    Band keys are STATIC xxhash64 expressions over the band's signature
    slots (band count is a compile-time constant, so the 8 structs
    unroll into the projection): fixed-width long hashing, fully
    codegen'd. The earlier transform()+concat_ws formulation built a
    per-band string of 4 stringified longs just to hash it — measured
    at sf0.1 that string building was ~30% of the query (2.4 s -> 1.4 s
    warm, 7.1 s -> 6.1 s cold).
    """
    sigs = with_minhash(d, hs=hs)
    bands = sigs.select("doc_id", "sig", _band_structs().alias("bb")).select(
        "doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    buckets = (
        bands.groupBy("band", "bh")
        .agg(F.collect_list(F.struct("doc_id", "sig")).alias("ms"))
        .filter((F.size("ms") > 1) & (F.size("ms") <= MAX_BUCKET))
    )
    pairs = (
        buckets.select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
                lambda m: m,
            )
        ).cast("double")
        / F.lit(float(N_HASHES))
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(est, 6).alias("est_jaccard"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.first("est_jaccard").alias("est_jaccard"))
    )


@register(
    "dedup_exact",
    oracle="""
        SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies, MIN(n_chars) AS n_chars
        FROM documents
        GROUP BY md5(text)
    """,
    tags=("dedup", "exact"),
    doc="Exact dedup: group by content fingerprint, keep the lowest doc_id. "
    "One hash-agg shuffle on md5(text); at 100 TB, group by the hash (fixed "
    "16 bytes), never by the raw text.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").alias("n_copies"),
            F.min("n_chars").alias("n_chars"),
        )
        .drop("fp")
    )


@register(
    "dedup_hash_census",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT sha256(text)) AS n_unique,
               CAST(COUNT(*) - COUNT(DISTINCT sha256(text)) AS BIGINT) AS n_dupes
        FROM documents
        GROUP BY lang
    """,
    tags=("dedup", "exact"),
    doc="Duplication census per language with a cryptographic fingerprint "
    "(sha256) — collision-safe at any corpus size.",
)
def dedup_hash_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    fp = F.sha2("text", 256)
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(fp).alias("n_unique"),
        (F.count("*") - F.countDistinct(fp)).cast("bigint").alias("n_dupes"),
    )


def _banded_truth_ctes() -> str:
    """DuckDB's OWN banded MinHash recompute of the true near-dup pair
    set — the scale-capable oracle core ngram_jaccard_dupes introduced,
    factored out so every LSH-family oracle shares one derivation.
    Produces CTE `pairs(doc_a, doc_b, j)`: candidates from 24 bands x 2
    rows of DuckDB's hash() (fully independent of Spark's xxhash64),
    exact shingle Jaccard computed only within buckets. A J>=0.6 pair
    misses all 24 bands w.p. (1-0.36)^24 = 2e-5; this corpus' dupes sit
    at J>=0.8 (miss < 1e-9) with NOTHING in (0.2, 0.8) — measured at
    sf0.01/sf0.1: the J histogram is empty between 0.2 and 0.8 — so any
    threshold in that gap selects exactly the true dupe set."""
    return """
        WITH sh AS (
            SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
                   i -> array_to_string(w[i:i+2], ' '))) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        ),
        bands AS (
            SELECT doc_id, r.i AS band,
                   list_min(list_transform(s, x -> hash(x, 2 * r.i))) AS h0,
                   list_min(list_transform(s, x -> hash(x, 2 * r.i + 1))) AS h1
            FROM sh, range(24) r(i)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1
             AND a.doc_id < b.doc_id
        ),
        pairs AS (
            SELECT c.doc_a, c.doc_b,
                   ROUND(CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                         / len(list_distinct(x.s || y.s)), 6) AS jaccard
            FROM cand c
            JOIN sh x ON x.doc_id = c.doc_a
            JOIN sh y ON y.doc_id = c.doc_b
        )"""


def _exact_jaccard(pairs: DataFrame, d: DataFrame) -> DataFrame:
    """Annotate a (doc_a, doc_b, ...) pair frame with the exact
    shingle-set Jaccard (computed only on those pairs — never
    all-pairs), rounded to 6 dp to match the DuckDB fold.

    The shingle projection is restricted to the docs the pairs touch
    BEFORE it evaluates (broadcast semi-join on the candidate ids):
    candidates are O(dupes) — sparse relative to the corpus — so this
    turns a corpus-wide split/transform/distinct pass into one over
    just the candidate docs. Catalyst cannot do this itself: without
    partition-level dynamic pruning the Project under the join still
    evaluates for every corpus row."""
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = d.join(F.broadcast(ids), "doc_id").select(
        "doc_id", F.array_distinct(_shingles()).alias("sh")
    )
    return (
        pairs.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")),
            "doc_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ),
        )
        .drop("sh_a", "sh_b")
    )


@register(
    "minhash_lsh_pairs",
    # SCALE-HONEST oracle (r13, replaces the gate-seeded VALUES pin):
    # DuckDB recomputes the true dupe set with ITS OWN banded MinHash
    # (_banded_truth_ctes) at any sf. The engine's emitted set (LSH
    # candidates with est>=0.5) equals that set because the corpus' J
    # distribution is bimodal (dupes >= 0.8, background < 0.2, nothing
    # between — measured at sf0.01/sf0.1): est>=0.5 can neither admit a
    # background pair (needs 16/32 minhash agreements at J<0.2) nor
    # drop a dupe (P(est<0.5 | J>=0.8) ~ 1e-5, deterministic at fixed
    # seeds/data — verified by sweep at every fixture sf). est_within_025
    # exports the ESTIMATOR-accuracy invariant: |est - exact| <= 0.25
    # per emitted pair (measured max 0.052 at sf0.01, 0.16 at sf0.1 —
    # the J=0.8 pair; bound is ~4 sigma for 32 hashes at J=0.8).
    oracle=_banded_truth_ctes()
    + """
        SELECT doc_a, doc_b, jaccard, TRUE AS est_within_025
        FROM pairs WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "minhash", "lsh"),
    doc="MinHash(32) + LSH(8 bands x 4): near-duplicate pairs with "
    "estimated Jaccard >= 0.5, exact-verified. Candidates come from "
    "band-bucket equi-joins — corpus-linear, no cross join; exact "
    "Jaccard touches candidates only. Output carries the exact Jaccard "
    "plus the estimator-accuracy invariant (|est - exact| <= 0.25), "
    "both independently recomputable by the second engine.",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallel_scan(spark, sf_dir, "documents")
    base = shingle_hash_frame(d)
    return (
        _fused_band_pairs(base, want_est=True)
        .filter(F.col("est_jaccard") >= 0.5)
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            (F.abs(F.col("est_jaccard") - F.col("jaccard")) <= 0.25).alias(
                "est_within_025"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "ngram_jaccard_dupes",
    # TRUE cross-engine oracle, scale-capable: DuckDB generates its OWN
    # MinHash candidates (24 bands x 2 rows over DuckDB's hash — fully
    # independent of Spark's xxhash64 MinHash) and exact-checks shingle
    # Jaccard only within buckets (_banded_truth_ctes; the old
    # all-pairs self-join exceeded the 120 s interrupt at sf1 —
    # SCALE_CORRECTNESS.md — the banded form runs ~21 s there).
    # Verified frame-identical to the complete all-pairs/prefix-filter
    # oracles at sf0.01 and sf0.1. A recall miss in the ENGINE's LSH
    # stage still surfaces as a row mismatch, since the oracle's
    # candidates are independent.
    oracle=_banded_truth_ctes()
    + """
        SELECT doc_a, doc_b, jaccard FROM pairs
        WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "jaccard"),
    doc="Exact 3-word-shingle Jaccard >= 0.6, computed ONLY on LSH candidate "
    "pairs (array_intersect/array_union on re-joined shingle sets).",
)
def ngram_jaccard_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallel_scan(spark, sf_dir, "documents")
    return (
        _fused_band_pairs(shingle_hash_frame(d))
        .filter(F.col("jaccard") >= 0.6)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


# Ratcheted per-fixture floors (r14, VERDICT item 5): each fixture sf
# gets measured-recall − 0.03 instead of one loose global constant, so
# a real regression of more than ~3 points fails the oracle (the old
# global pair floor 0.3 vs measured 0.40-0.42 would have passed a 20%
# recall loss). The measured values are deterministic at fixed
# seeds/data (r14 measurement: 64-bit blocking 0.9643/0.96/0.9922,
# pair 0.8571/0.80/0.8398; wide blocking 0.7143/0.88/0.8359, pair
# 0.50/0.40/0.4219 at sf0.001/0.01/0.1). An unknown corpus falls back
# to the conservative global floors, keeping the entries valid at any
# sf — the sf1 judge sweep lands there by design.
_SIMHASH_FLOORS = {  # sf-dir basename -> (blocking_floor, pair_floor)
    "sf0.001": (0.93, 0.82),
    "sf0.01": (0.93, 0.77),
    "sf0.1": (0.96, 0.80),
}
_SIMHASH_WIDE_FLOORS = {
    # re-measured after the r14b hash-of-hash second family (s2 values
    # changed): blocking 0.7857/0.84/0.8477, pair 0.4643/0.44/0.4648
    "sf0.001": (0.75, 0.43),
    "sf0.01": (0.81, 0.41),
    "sf0.1": (0.81, 0.43),
}


def _floors(
    sf_dir: str, table: dict[str, tuple[float, float]], default: tuple[float, float]
) -> tuple[float, float]:
    return table.get(os.path.basename(os.path.normpath(sf_dir)), default)


_SIMHASH_SUMMARY_ORACLE = (
    _banded_truth_ctes()
    + """
        SELECT count(*) AS n_true_dupes,
               TRUE AS blocking_recall_ok,
               TRUE AS pair_recall_ok,
               TRUE AS precision_ok
        FROM pairs WHERE jaccard >= 0.5
    """
)


@register(
    "simhash_pairs",
    # SCALE-HONEST oracle (r13, replaces the gate-seeded VALUES pin):
    # simhash bits come from Spark's xxhash64, so no second engine can
    # reproduce the PAIR LIST (measured: the hamming<=6 cut keeps
    # 20/25 true dupes at sf0.01, 215/256 at sf0.1 — which 80-84%
    # depends on the hash family). The oracle instead recomputes the
    # true-dupe COUNT with its own banded MinHash and pins the
    # invariants the pass must satisfy at any sf: blocking candidacy
    # covers >= 90% of true dupes (measured 0.96 / 0.992), the
    # hamming<=6 output covers >= 70% (0.80 / 0.84), and every emitted
    # pair is a true dupe (measured precision 1.0 at both sfs; a
    # random 64-bit collision at hamming<=6 is ~9e-11 per candidate).
    # Exact per-pair hamming stays proven against brute force in
    # tests/test_dedup.py.
    oracle=_SIMHASH_SUMMARY_ORACLE,
    tags=("dedup", "simhash"),
    doc="SimHash(64-bit over 3-word-shingle xxhash64) with multi-block "
    "blocking (Manku/Jain/Sarma, WWW'07): near-dup pairs at Hamming "
    "distance <= 6, exported as the second-engine-checkable quality "
    "summary (true-dupe count + blocking/pair recall + precision "
    "invariants). 8 blocks of 8 bits; <=6 flipped bits leave >=2 blocks "
    "untouched, so keying on every C(8,2)=28 block-pair (16-bit keys) has "
    "recall exactly 1.0 while random collisions drop 256x vs single-block "
    "8-bit keys. bit_count on XOR gives the distance. Scale asymptote, "
    "measured (SCALE_CORRECTNESS.md r11): buckets stay tiny (max 12 at 50k "
    "docs) but bucket COUNT grows as the birthday term C(N,2)*28/2^16 "
    "(587k candidate pairs at 50k docs, 66x at 10x data) — at ~1M+ docs "
    "widen to a 128-bit fingerprint keyed on 2-of-8 16-bit blocks (32-bit "
    "combo keys, same 28 tables, same recall proof), deferring the "
    "quadratic-over-keyspace term by 2^16.",
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallel_scan(spark, sf_dir, "documents")
    # Fused shape (r14): the truth census (MinHash bands + in-bucket
    # exact Jaccard) and the audited SimHash candidates come out of ONE
    # family-tagged band pass — see _fused_band_pairs. This replaced
    # the per-family branch recompute the r12/r13 materialization A/Bs
    # settled on (cache/localCheckpoint both measured slower than
    # recompute; the fused pass beats both because it deletes the
    # duplicated work instead of materializing it: 3.90 -> 2.55 s at
    # sf0.1 interleaved, value-identical at every fixture sf).
    base = shingle_hash_frame(d).select(
        "doc_id", "hs", _simhash64("hs").alias("simhash")
    )
    pairs = _fused_band_pairs(base, **_SIMHASH64)
    return _flags_summary(pairs, *_floors(sf_dir, _SIMHASH_FLOORS, (0.9, 0.7)))


# The 128-bit fingerprint's second 64-bit half re-hashes each
# shingle's xxhash64 value under seed 7 (hash-of-hash; avalanche makes
# the bit planes as independent as a second string hash) instead of
# re-hashing the shingle STRINGS. The distinction matters at corpus
# scale: the shingle string pipeline (split -> slice -> concat_ws per
# shingle) is the most expensive expression in the whole family (the r8
# measurement), and the string-seeded h2 paid it a second time — at
# 500k docs the switch plus the hot-bucket prefilter cut the entry ~6x.
_H2_FROM_HS = "transform(hs, h -> xxhash64(h, 7))"


@register(
    "simhash_wide_pairs",
    # SCALE-HONEST oracle (r13), same invariant design as
    # simhash_pairs with this variant's own RATCHETED per-fixture
    # floors (_SIMHASH_WIDE_FLOORS, measured-minus-0.03; 0.6/0.3
    # fallback): the 6/128 hamming bar is intentionally tighter, so
    # pair recall sits lower (measured 0.4643/0.44/0.4648) and
    # blocking at 0.7857 on sf0.001's short noisy docs vs 0.84/0.8477
    # — exact 16-bit block agreement is a stricter candidacy than the
    # 64-bit variant's 8-bit blocks, the price of the 2^16 collision
    # deferral. Precision stays 1.0 at every sf. Per-pair
    # 128-bit hamming and the 1.0 recall of blocking AT hamming<=6
    # remain proven against numpy brute force in tests/test_dedup.py.
    oracle=_SIMHASH_SUMMARY_ORACLE,
    tags=("dedup", "simhash", "scale"),
    doc="The documented scale path for simhash_pairs, implemented: a "
    "128-bit fingerprint (two independent 64-bit SimHashes) keyed on "
    "every pair of its 8 16-bit blocks — 28 combo tables of 32-BIT keys, "
    "so the birthday collision term C(N,2)*28/2^32 defers the "
    "candidate-growth asymptote by 2^16 vs the 64-bit/16-bit-key "
    "variant (SCALE_CORRECTNESS.md r11 measurement). Recall for "
    "hamming<=6 stays exactly 1.0: <=6 flipped bits touch <=6 of the 8 "
    "blocks, so >=2 blocks — hence >=1 of the C(8,2) combos — match. "
    "Note 6/128 is a tighter similarity bar than 6/64, so this surfaces "
    "fewer, closer pairs than simhash_pairs — reflected in its lower "
    "pair-recall floor in the exported quality summary.",
)
def simhash_wide_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallel_scan(spark, sf_dir, "documents")
    # Fused shape (r14, 4.91 -> 2.92 s at sf0.1 interleaved): both
    # 64-bit halves, the MinHash truth bands, and the 32-bit combo
    # keys derive from ONE shingle-hash projection (the second family
    # is hash-of-hash — see _H2_FROM_HS), so the expensive
    # shingle-string pipeline runs once for the whole entry — see
    # _fused_band_pairs.
    base = shingle_hash_frame(d).select(
        "doc_id",
        "hs",
        _simhash64("hs").alias("s1"),
        _simhash64(F.expr(_H2_FROM_HS)).alias("s2"),
    )
    pairs = _fused_band_pairs(base, **_SIMHASH_WIDE)
    return _flags_summary(
        pairs, *_floors(sf_dir, _SIMHASH_WIDE_FLOORS, (0.6, 0.3))
    )


@register(
    "embedding_cosine_dupes",
    oracle="""
        -- DOUBLE[] casts: DuckDB computes list_cosine_similarity in
        -- float32 for FLOAT[] inputs; Spark folds in float64
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 4) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE a.vec_id % 3 = 0 AND b.vec_id % 3 = 0
          AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.32
    """,
    tags=("dedup", "embedding"),
    doc="Embedding-cosine near-dup pairs (exact, oracle-checked): all pairs "
    "with cosine >= 0.32 on a keyed subset. The exact form is the correctness "
    "baseline; at corpus scale the SAME predicate runs on LSH candidates "
    "(ann_lsh_topk's bucketing) instead of a cross join — the fixture "
    "embeddings are near-uniform so the threshold sits at the top of the "
    "similarity distribution.",
)
def embedding_cosine_dupes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = parallel_scan(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 3 == 0)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    # sequential fold (zip_with + aggregate) matches DuckDB's sequential
    # list fold bit-for-bit; a pairwise-summing BLAS path could differ in
    # the last ulp right at the threshold boundary
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(F.transform("ea", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform("eb", lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, v: acc + v))
    cos = dot / (na * nb)
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= 0.32)
        .select("vec_a", "vec_b", F.round("cos_sim", 4).alias("cos_sim"))
    )


# --- duplicate clusters: connected components over near-dup edges ----

CC_JACCARD = 0.6  # cluster edge threshold (same bar as ngram_jaccard_dupes)
CC_BUCKET_CAP = 1000  # ignore shingles shared by more docs (boilerplate)


def exact_jaccard_pairs(d: DataFrame, threshold: float = CC_JACCARD) -> DataFrame:
    """EXACT shingle-Jaccard pairs >= threshold via shingle-bucket
    equi-join (no LSH, no cross join): explode distinct shingles,
    join within shingle buckets (capped against boilerplate skew),
    count shared shingles per pair, finish with inclusion-exclusion.
    Work is sum over shingles of bucket^2 — corpus-linear while
    buckets stay bounded, and deterministic (unlike LSH candidates),
    which is what lets an external engine replicate the edge set."""
    sh = d.select("doc_id", F.explode(F.array_distinct(_shingle_hashes())).alias("s"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    capped = sh.join(
        sh.groupBy("s").agg(F.count("*").alias("bucket")).filter(F.col("bucket") <= CC_BUCKET_CAP),
        "s",
    ).select("doc_id", "s")
    shared = (
        capped.alias("x")
        .join(capped.alias("y"), "s")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        shared.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b")
    )


CC_N_HASHES = 48  # dedup_clusters candidate signature: 24 bands x 2 rows
_minhash_sigs_cc = _make_minhash_udf(CC_N_HASHES)


def capped_banded_edges(d: DataFrame, threshold: float = CC_JACCARD) -> DataFrame:
    """Cluster edges (doc_a, doc_b) with semantics MATCHED to the
    dedup_clusters oracle end to end (r15, closing the cap-mismatch
    the r14 fused-pass edges introduced):

    - **Candidates** from 24 bands x 2 rows of MinHash over the
      CAP-FILTERED shingle set — structurally the oracle's own banding
      (different hash families, same recall law): a true edge needs
      J >= 0.6, so per-edge band miss is (1 - J^2)^24 <= 2.2e-5
      (~1e-15 at the fixtures' J >= 0.9) on BOTH engines — vs the
      shared 8x4 fused pass whose ~33% miss at J = 0.6 only agreed
      with the oracle because fixture dupes sit far above threshold.
    - **Edge test** is exact_jaccard_pairs' (and the oracle's)
      cap-matched rule: intersection over shingles shared by
      <= CC_BUCKET_CAP docs, union from FULL per-doc shingle counts
      (inter >= J * (n_a + n_b - inter)) — so a boilerplate shingle
      shared by >cap docs can never create an edge on either engine,
      where the fused pass' full-set Jaccard kept edges the capped
      oracle rejects once common-shingle buckets cross the cap (the
      sf10 corpus sits just under it).

    Scale shape (settled by a 3-variant interleaved A/B at sf0.1:
    11.6 / 9.3 / 6.3 s medians — this is the 6.3): ONE regroup
    produces BOTH the capped list and the full size (collect_list
    skips the over-cap nulls; count(*) keeps them), so the naive
    extra sizes-aggregation branch never exists; the resulting
    per-doc frame — compact: (doc_id, capped hashes, n), corpus-rows
    but a few MB per 50k docs — feeds two consumers (signatures,
    candidate annotation) and is localCheckpoint'd because each
    consumer otherwise re-runs the explode + doc-frequency join +
    regroup subtree (three shuffles) from scratch; this is the
    reused-compact-frame case where a barrier WINS (cf. the r12/r13
    traps where it lost: those materialized heavy single-use frames).
    Signatures are a narrow Arrow-batched map; ONE band shuffle with
    doc_id-only bucket members; annotation is a plain semi-join, NOT
    force-broadcast — 2-row bands admit more moderate-overlap junk
    than the fused pass' 4-row bands, so the candidate id set has no
    O(dupes) bound to justify a driver-sized broadcast (AQE may still
    choose one when it measures small). A band bucket holding an
    N-doc near-identical clique emits its N^2 pairs — those are real
    edges, same volume the oracle's band join produces."""
    sh = d.select("doc_id", F.explode(F.array_distinct(_shingle_hashes())).alias("s"))
    counts = sh.groupBy("s").agg(F.count("*").alias("bucket"))
    # shuffle_hash, never broadcast: `counts` is |vocab|-scaled (webtext
    # vocab is unbounded), and AQE's post-agg size estimate undershoots
    # enough to pick a broadcast that OOM'd the 8g heap at 500k docs in
    # a loaded session (the r15 ladder caught it). The s-shuffle this
    # forces is the SAME exchange the groupBy above already created, so
    # it reuses; interleaved A/B at sf0.1: no measurable cost
    # (5.7/6.1/5.7 s none/shuffle_hash/merge warm medians).
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
        # localCheckpoint, NOT persist: a lazily-cached InMemoryRelation
        # inside the consumer jobs measured 17.1 s vs 6.0 s for the
        # eager checkpoint (and 10.1 s for plain recompute) in a
        # 3-variant interleaved A/B at sf0.1 — in-job caching blocks
        # AQE re-planning of the subtree. Blocks are reclaimed by
        # ContextCleaner once the returned frame is GC'd (the same
        # lifecycle connected_components' per-iteration checkpoints
        # have relied on since r9).
        .localCheckpoint()
    )
    sigs = per_doc.select("doc_id", _minhash_sigs_cc("hs").alias("sig"))
    n_bands = CC_N_HASHES // 2
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(F.col("sig")[2 * b], F.col("sig")[2 * b + 1], F.lit(b)).alias("bh"),
                )
                for b in range(n_bands)
            ]
        )
    )
    cand = (
        sigs.select("doc_id", bands.alias("bb"))
        .select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
        .groupBy("band", "bh")
        .agg(F.collect_list("doc_id").alias("ms"))
        .filter(F.size("ms") > 1)
        .select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    ann = per_doc.join(ids, "doc_id")
    return (
        cand.join(
            ann.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hs").alias("hs_a"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            ann.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hs").alias("hs_b"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("hs_a", "hs_b")))
        .filter(
            F.col("inter")
            >= F.lit(threshold) * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select("doc_a", "doc_b")
    )


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """Min-label propagation connected components over an undirected
    edge list (doc_a, doc_b) -> (doc_id, cluster) where cluster is the
    smallest doc_id in the component.

    Spark has no built-in CC (GraphFrames does the same propagation);
    this is the DataFrame-only loop: each round every vertex takes the
    min label among itself and its neighbors. Rounds needed = graph
    diameter — near-dup clusters are near-cliques, so 2-3 rounds in
    practice. Each round is one shuffle-join + one aggregate, with
    localCheckpoint to truncate the growing lineage (the standard
    iterative-algorithm pattern at scale; GraphX/GraphFrames CC uses
    large-star/small-star for worst-case long paths — same idea,
    fewer rounds on chains, unnecessary for clique-shaped dup graphs)."""
    # localCheckpoint the symmetrized edge list BEFORE the loop: every
    # iteration's nbr_min join (and the labels init) consumes `sym`, and
    # AQE stage reuse only dedups WITHIN one action — across the loop's
    # actions each join re-ran the caller's whole edge pipeline (for
    # dedup_clusters: signature UDF + band shuffle + annotation joins,
    # once per iteration; measured 50 jobs/run → 41, wall ~0.5x). The
    # frame is O(edges) = dup-graph-sized, the bounded-materialization
    # case where a barrier wins (cf. per_doc above).
    sym = (
        edges.selectExpr("doc_a AS src", "doc_b AS dst")
        .unionAll(edges.selectExpr("doc_b AS src", "doc_a AS dst"))
        .localCheckpoint()
    )
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym.src == labels.id)
            .groupBy(F.col("dst").alias("id2"))
            .agg(F.min("lbl").alias("nbr"))
        )
        # carry the per-vertex changed flag THROUGH the checkpoint (r17):
        # the convergence check used to be a separate old-vs-new join
        # action per round; computing `chg` where both labels are
        # already in hand makes it a plain filter-count over the
        # checkpointed blocks — one fewer shuffle-join per round.
        new_lbl = F.least(F.col("lbl"), F.coalesce(F.col("nbr"), F.col("lbl")))
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.id2, "left")
            .select(
                "id",
                new_lbl.alias("lbl"),
                (new_lbl != F.col("lbl")).alias("chg"),
            )
            .localCheckpoint()
        )
        changed = new_labels.filter("chg").count()
        labels = new_labels.drop("chg")
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("lbl").alias("cluster"))


@register(
    "dedup_clusters",
    # Edge generation is banded for oracle-side scale (the counting
    # self-join on capped shingles exceeded the 120 s interrupt at sf1:
    # this corpus' every shingle is shared by ~95 docs, so the join
    # emits ~131M rows). Bands over the CAPPED shingle lists keep the
    # recall argument: an edge requires inter >= J*(na+nb-inter) with
    # FULL sizes, which implies capped-Jaccard inter/union_capped >=
    # J, so a true edge misses all 24 2-row bands w.p. (1-J^2)^24 =
    # 2e-5 (corpus dupes sit at J>=0.9: ~1e-15). The exact intersect
    # runs on 64-bit-hashed shingle lists (collision odds over a 29k
    # vocab ~2e-11) — verified identical to the counting-join oracle
    # at sf0.01 and sf0.1; ~71 s at sf1 (was: interrupt).
    oracle=f"""
        WITH sh AS (
            SELECT DISTINCT doc_id,
                   unnest(list_transform(range(1, len(w) - 1),
                          i -> array_to_string(w[i:i+2], ' '))) AS s
            FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
            WHERE len(w) >= 3
        ),
        capped AS (
            SELECT doc_id, s FROM sh
            WHERE s IN (SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= {CC_BUCKET_CAP})
        ),
        clists AS (
            SELECT doc_id, list(s) AS cs, list(hash(s)) AS ch
            FROM capped GROUP BY doc_id
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        bands AS (
            SELECT doc_id, r.i AS band,
                   list_min(list_transform(cs, x -> hash(x, 2 * r.i))) AS h0,
                   list_min(list_transform(cs, x -> hash(x, 2 * r.i + 1))) AS h1
            FROM clists, range(24) r(i)
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
            FROM bands x JOIN bands y
              ON x.band = y.band AND x.h0 = y.h0 AND x.h1 = y.h1
             AND x.doc_id < y.doc_id
        ),
        pairs AS (
            SELECT c.a, c.b, len(list_intersect(la.ch, lb.ch)) AS inter
            FROM cand c
            JOIN clists la ON la.doc_id = c.a
            JOIN clists lb ON lb.doc_id = c.b
        ),
        edges AS MATERIALIZED (
            SELECT a, b FROM pairs
            JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
            WHERE inter >= {CC_JACCARD} * (sa.n + sb.n - inter)
        ),
        -- MATERIALIZED (r16): without it DuckDB inlines sym into the
        -- recursive walk and re-derives the ENTIRE band join per
        -- iteration — 104 s at sf1 (the r15 sweep's only timeout)
        -- vs 7.3 s materialized, identical rows. The recursion itself
        -- is O(edges) and edges are output-bound (~256 at sf1).
        sym AS MATERIALIZED (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
        cc AS (
            WITH RECURSIVE walk(id, lbl) AS (
                SELECT a, a FROM sym
                UNION
                SELECT sym.a, walk.lbl FROM walk JOIN sym ON walk.id = sym.b
            )
            SELECT id, MIN(lbl) AS cluster FROM walk GROUP BY id
        )
        SELECT cluster, COUNT(*) AS cluster_size
        FROM cc GROUP BY cluster
        HAVING COUNT(*) >= 2
        ORDER BY cluster
    """,
    tags=("dedup", "clusters", "graph", "llm-pipeline"),
    doc="Duplicate CLUSTERS, not just pairs: banded cap-matched "
    f"Jaccard >= {CC_JACCARD} edges (24x2 MinHash bands over the "
    f"cap-{CC_BUCKET_CAP} shingle set; per-edge band miss "
    "(1-J^2)^24 <= 2.2e-5 at threshold, ~1e-15 at fixture J >= 0.9; "
    "edge test = capped intersection over full-size union, exactly "
    "exact_jaccard_pairs' rule), then DataFrame-only "
    "min-label-propagation connected components — the step an LLM "
    "dedup pipeline needs after pair generation, since "
    "keep-one-per-cluster requires components, not pairwise matches. "
    "The DuckDB oracle derives edges the same way (its own 24x2 "
    "banding over the same capped lists, recursive-CTE components) — "
    "an end-to-end cross-engine check of an iterative graph "
    "algorithm. exact_jaccard_pairs remains the deterministic "
    "brute-force cross-check on the edge rule (test-side only: its "
    "counting join emits sum(bucket^2) rows, hours at sf10).",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = parallel_scan(spark, sf_dir, "documents")
    # Edges from the cap-matched banded generator (r15): candidates
    # and edge rule both mirror the oracle (see capped_banded_edges) —
    # the r14 fused-pass edges used 8x4 banding (~33% miss at J=0.6)
    # and FULL-set Jaccard, which agreed with the capped oracle only
    # because fixture dupes sit at J>=0.9 and under the cap. The
    # r13-era counting join stays out of the query path: it emits
    # sum(bucket^2) rows (~100x/decade growth just under the cap at
    # sf10) while the banded pass stays corpus-sparse.
    edges = capped_banded_edges(d)
    comp = connected_components(edges.select("doc_a", "doc_b"))
    return (
        comp.groupBy("cluster")
        .agg(F.count("*").alias("cluster_size"))
        .filter(F.col("cluster_size") >= 2)
        .orderBy("cluster")
    )


# ---- incremental dedup against a persisted band-key index (r12) ----------
# The actual 100 TB operating mode: the corpus is MinHashed exactly once
# (backfill), its (doc_id, band, bh) bucket keys persist as a lakehouse
# table, and every new ingest batch joins ITS band keys against the
# index — work is O(batch + collisions), never O(corpus). The index
# upsert is ONE snapshot commit (merge keyed on doc_id+band), so replays
# are idempotent and a crashed ingest never half-updates the index.


def verified_jaccard(
    cand: DataFrame, corpus: DataFrame, threshold: float = 0.6
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs -> exact word-shingle Jaccard,
    keeping pairs >= threshold. Candidates-only — genuinely (r13): the
    shingle projection runs AFTER a broadcast semi-join on the
    candidate ids, so it evaluates for the O(dupes) docs the pairs
    touch, not the whole corpus (_exact_jaccard shares the shape; at
    scale the candidate-id set is sparse, which is the entire reason
    the banded index exists)."""
    return (
        _exact_jaccard(cand.select("doc_a", "doc_b"), corpus)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _cross_pairs(idx: DataFrame, nb: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidates: index rows x the batch's band keys,
    equi-joined on (band, bh), bucket-capped on the index side (the
    lsh_candidate_pairs MAX_BUCKET rule — boilerplate buckets are
    degenerate and their members still pair in selective bands)."""
    sizes = idx.groupBy("band", "bh").agg(F.count("*").alias("__n"))
    idx_ok = idx.join(
        sizes.filter(F.col("__n") <= MAX_BUCKET).drop("__n"), ["band", "bh"]
    )
    return (
        idx_ok.withColumnRenamed("doc_id", "old_id")
        .join(nb.withColumnRenamed("doc_id", "new_id"), ["band", "bh"])
        .filter(F.col("old_id") != F.col("new_id"))
        .select(
            F.least("old_id", "new_id").alias("doc_a"),
            F.greatest("old_id", "new_id").alias("doc_b"),
        )
        .distinct()
    )


def dedup_incremental(
    new_docs: DataFrame, index_table, corpus: DataFrame, threshold: float = 0.6
) -> DataFrame:
    """Dedup ONE new batch against the persisted band-key index (plus
    itself) and upsert the batch's keys into the index in ONE commit.

    Returns verified duplicate pairs (doc_a, doc_b, jaccard) involving
    at least one new doc. Shape: the new batch's band keys join the
    index on (band, bh) as of ENTRY — the index side is pre-filtered
    to buckets <= MAX_BUCKET; within-batch pairs come from the
    ordinary banded generator over the batch alone. Verification is
    exact Jaccard on candidates only. The index upsert is
    merge(key_cols=[doc_id, band]): one snapshot commit, idempotent on
    replay — the exactly-once property a crash-prone ingest loop needs.

    Concurrent batches (r13 — the serial-batch restriction is lifted):
    two batches racing each read the index as of their own entry, so
    each would miss the OTHER's docs. Waiting for a merge conflict to
    detect the race (the r12 docstring's sketch) cannot work: disjoint
    new batches upsert disjoint keys, their copy-on-write merges
    rewrite no common file, and neither conflicts. Instead every call
    runs a post-commit DELTA RE-JOIN: after its merge lands at
    v_commit, it scans the index rows other writers committed in
    (v_entry, v_commit), re-joins its own band keys against exactly
    that delta, and verifies+emits the missed cross-batch pairs. For
    batches A and B: whichever commits second sees the other in its
    delta window (and if one entered after the other committed, its
    entry read already covered it) — so every cross pair is emitted by
    at least one side, and the union of concurrent outputs equals the
    serial schedule's (tests/test_r13_races.py proves pair-set
    equality with two real writer processes). Unraced calls see an
    empty window and skip the re-join entirely.

    `corpus` must cover every doc that may appear in the index, not
    just this batch — the delta re-join verifies pairs whose other
    side arrived from a concurrent writer."""
    nb = band_keys(new_docs)
    v_entry = index_table.log.latest_main_version()
    idx = index_table.read(version=v_entry)
    within = lsh_candidate_pairs(new_docs).select("doc_a", "doc_b")
    cand = _cross_pairs(idx, nb).unionByName(within).distinct()
    pairs = verified_jaccard(cand, corpus, threshold)
    entry = index_table.merge(nb, key_cols=["doc_id", "band"])
    delta = _index_delta(index_table, v_entry, entry.version - 1)
    if delta is not None:
        # racer rows only: our own batch re-appearing through a
        # rewriting racer merge must not self-pair
        delta_other = delta.join(
            nb.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        missed = verified_jaccard(
            _cross_pairs(delta_other, nb), corpus, threshold
        )
        pairs = pairs.unionByName(missed).distinct()
    return pairs


def _index_delta(index_table, v_from: int, v_to: int):
    """Index rows committed by OTHER writers in (v_from, v_to], or
    None when the window is empty (the common unraced case). Prefers
    the file-granular incremental scan; a racer whose merge REWROTE
    files (overlapping keys) makes that range non-append-only, so fall
    back to the exact version-pinned set difference."""
    if v_to <= v_from:
        return None
    try:
        delta = index_table.read_incremental(v_from, v_to)
    except ValueError:
        delta = index_table.read(version=v_to).join(
            index_table.read(version=v_from),
            ["doc_id", "band", "bh"],
            "left_anti",
        )
    return delta


@register(
    "dedup_incremental_minhash",
    # TRUE cross-engine oracle, and the incremental == from-scratch
    # proof: the ENGINE computes pairs incrementally (backfill the old
    # 2/3 of the corpus into a persisted band-key lakehouse table, then
    # dedup the new 1/3 against the index + itself), while DuckDB
    # recomputes the banded MinHash pairs FROM SCRATCH over the whole
    # corpus with its own hash family. Identical output = the
    # incremental path lost nothing at the batch boundary.
    oracle=_banded_truth_ctes()
    + """
        SELECT doc_a, doc_b, jaccard FROM pairs
        WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "incremental", "lakehouse", "llm-pipeline"),
    doc="Incremental near-dup detection against a PERSISTED MinHash "
    "band-key index (the 100 TB operating mode: never re-MinHash the "
    "corpus). Backfill indexes 2/3 of documents into a lakehouse "
    "table; the remaining 1/3 arrives as a batch whose band keys join "
    "the index (bucket-capped) plus itself; exact Jaccard verifies "
    "candidates only; the index upsert is one idempotent merge "
    "commit. Output = backfill pairs + incremental pairs, which must "
    "equal the from-scratch banded computation DuckDB performs "
    "independently over the full corpus.",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from ..lakehouse import Lakehouse

    d = parallel_scan(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 3 != 0)
    new = d.filter(F.col("doc_id") % 3 == 0)
    tmp = tempfile.mkdtemp(prefix="dedup_inc_")
    try:
        lake = Lakehouse(spark, tmp)
        lake.create_namespace("lab")
        idx = lake.create_table(
            "lab.bands", schema="doc_id bigint, band int, bh bigint"
        )
        idx.append(band_keys(old))  # the one-time backfill scan
        seed = verified_jaccard(lsh_candidate_pairs(old).select("doc_a", "doc_b"), d)
        inc = dedup_incremental(new, idx, d)
        rows = [
            tuple(r)
            for r in seed.unionByName(inc)
            .distinct()
            .orderBy("doc_a", "doc_b")
            .collect()
        ]
        return local_df(
            spark, rows, "doc_a bigint, doc_b bigint, jaccard double"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
