"""Mutation audit of the FUSED band pass (r15, VERDICT item 6).

`_fused_band_pairs` is the shared engine under four oracle-checked
entries (minhash_lsh_pairs, ngram_jaccard_dupes, simhash_pairs,
simhash_wide_pairs). Like the r10 lakehouse-fold and r14 catalog-ref
audits, each case seeds ONE semantic mutation through the function's
documented `_mutate` seam and proves a checker goes RED — so a future
regression along that dimension cannot pass green. Where the sf0.01
differential cannot see a mutation (band-family recall hides behind
fixture dupes at J >= 0.9), a CRAFTED corpus discriminates instead.
One case is an equivalence WITNESS, not a kill: the singleton-bucket
filter is pure perf, and the audit proves output-identity without it.

Every kill case first asserts the unmutated pair is green, so red is
attributable to the mutation, not environment drift.
"""

from __future__ import annotations

import functools
import random

import pytest
from pyspark.sql import functions as F

from local_datalakehouse_phase2_spark.operators import dedup
from local_datalakehouse_phase2_spark.registry import all_specs

from .conftest import SF_ORACLE
from .oracle import compare, duckdb_connection

SPECS = all_specs()


@pytest.fixture(scope="module")
def con():
    c = duckdb_connection(SF_ORACLE)
    yield c
    c.close()


def _mutated(monkeypatch, mutate: str) -> None:
    orig = dedup._fused_band_pairs
    monkeypatch.setattr(
        dedup, "_fused_band_pairs", functools.partial(orig, _mutate=mutate)
    )


def _check(spark, con, name):
    spec = SPECS[name]
    compare(spec.fn(spark, SF_ORACLE), con, spec.oracle)


@pytest.mark.parametrize(
    "name,mutate",
    [
        ("minhash_lsh_pairs", "drop_fam0"),
        ("ngram_jaccard_dupes", "drop_fam0"),
        ("simhash_pairs", "drop_fam1"),
        ("simhash_wide_pairs", "drop_fam1"),
    ],
    ids=["minhash:drop_fam0", "ngram:drop_fam0", "simhash:drop_fam1", "wide:drop_fam1"],
)
def test_oracle_kills_dropped_band_family(name, mutate, spark, con, monkeypatch):
    """Deleting either band family must turn the entry's DuckDB
    comparison red: fam0 gone -> no MinHash collisions, every jaccard
    null, the truth census empties; fam1 gone -> no SimHash candidates,
    the blocking/pair recall flags flip."""
    _check(spark, con, name)  # baseline green
    _mutated(monkeypatch, mutate)
    with pytest.raises(AssertionError):
        _check(spark, con, name)


# ---- crafted-corpus kills: dimensions sf0.01 cannot see -------------
#
# Fixture dupes sit at J >= 0.9, where the 8x4 MinHash bands have
# ~1e-15 miss probability — so "combo-only pairs tagged c0" and
# "bucket cap off by one" are invisible against the sf0.01 oracles.
# These corpora plant pairs exactly in the blind spots.


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def midsim_corpus(spark):
    """30 base docs plus 20 partners at J ~ 0.5 (first 40 of 60 words
    shared): low enough that many pairs MISS all 8 MinHash bands, close
    enough that SimHash combo tables still catch some — the population
    where jaccard must stay NULL under the fused contract."""
    rng = random.Random(1507)
    vocab = [f"w{i}" for i in range(500)]
    rows = []
    did = 0
    for i in range(30):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(60)]
        rows.append((did, " ".join(words)))
        did += 1
        if i < 20:
            partner = words[:40] + [vocab[rng.randrange(len(vocab))] for _ in range(20)]
            rows.append((did, " ".join(partner)))
            did += 1
    return _docs_df(spark, rows)


def _fused_simhash(df, mutate=None):
    base = dedup.shingle_hash_frame(df).select(
        "doc_id", "hs", dedup._simhash64("hs").alias("simhash")
    )
    return dedup._fused_band_pairs(base, **dedup._SIMHASH64, _mutate=mutate)


def test_c0_all_breaks_fused_contract(midsim_corpus):
    """The fused contract: jaccard is non-null EXACTLY for MinHash-band
    collisions. Tagging every pair c0 ("c0_all") must annotate
    combo-only pairs too — detectable here because the mid-similarity
    corpus has pairs the combo tables catch but the bands miss."""
    normal = {
        (r.doc_a, r.doc_b): r.jaccard for r in _fused_simhash(midsim_corpus).collect()
    }
    combo_only = {k for k, j in normal.items() if j is None}
    # precondition: the corpus actually populates the blind spot
    assert combo_only, "crafted corpus no longer yields combo-only pairs"
    mutated = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _fused_simhash(midsim_corpus, mutate="c0_all").collect()
    }
    leaked = {k for k in combo_only if mutated.get(k) is not None}
    assert leaked, "mutation not observable: no combo-only pair gained a jaccard"


def test_bucket_cap_is_semantics_bearing(spark, monkeypatch):
    """MAX_BUCKET bounds which buckets may pair AT ALL: on a 3-identical
    -doc corpus every band bucket has exactly 3 members, so cap=3 emits
    the 3 true pairs and an off-by-one cap=2 silently emits NONE — the
    off-by-one the audit pins (and why the cap must match whatever the
    oracle assumes)."""
    text = " ".join(f"t{i}" for i in range(40))
    df = _docs_df(spark, [(1, text), (2, text), (3, text)])
    base = dedup.shingle_hash_frame(df)
    monkeypatch.setattr(dedup, "MAX_BUCKET", 3)
    ok = dedup._fused_band_pairs(base).collect()
    assert {(r.doc_a, r.doc_b) for r in ok} == {(1, 2), (1, 3), (2, 3)}
    assert all(r.jaccard == 1.0 for r in ok)
    monkeypatch.setattr(dedup, "MAX_BUCKET", 2)
    assert dedup._fused_band_pairs(base).collect() == []


def test_singleton_filter_is_pure_perf(spark, midsim_corpus):
    """Equivalence WITNESS: dropping the 1-member-bucket filter changes
    nothing semantically (a singleton bucket yields no a<b pair) — it
    exists purely to keep ~85% of band rows out of the pair explode.
    Output must be IDENTICAL with and without."""
    normal = sorted(
        map(tuple, _fused_simhash(midsim_corpus).fillna(-1).collect())
    )
    unfiltered = sorted(
        map(
            tuple,
            _fused_simhash(midsim_corpus, mutate="no_singleton_filter")
            .fillna(-1)
            .collect(),
        )
    )
    assert normal == unfiltered


def test_capped_edge_rule_is_live(spark, monkeypatch):
    """dedup_clusters' cap-matched edge rule (r15): a 'boilerplate'
    shingle shared by more docs than CC_BUCKET_CAP must NOT contribute
    to edge Jaccard. Corpus: 7 boiler-DOMINATED docs (40 boilerplate
    words + a 5-word unique tail; two of them identical) plus one
    boiler-free identical pair. With the cap lowered under the boiler
    bucket size, the capped rule keeps ONLY the boiler-free pair —
    even the identical boiler pair fails, because its intersection is
    capped away while its union keeps full sizes (exactly the oracle's
    and exact_jaccard_pairs' semantics) — while the r14-style FULL-set
    Jaccard reports the boiler pairs at J >= 0.6. exact_jaccard_pairs
    (the deterministic rule-twin) must agree with the banded edges."""
    boiler = " ".join(f"b{i}" for i in range(40))
    rows = []
    for i in range(6):
        tail = " ".join(f"u{i}_{j}" for j in range(5))
        rows.append((i, f"{boiler} {tail}"))
    rows.append((6, rows[4][1]))  # identical boiler-dominated pair (4, 6)
    pure = " ".join(f"p{j}" for j in range(30))
    rows += [(7, pure), (8, pure)]  # identical boiler-FREE pair (7, 8)
    df = _docs_df(spark, rows)
    monkeypatch.setattr(dedup, "CC_BUCKET_CAP", 5)  # boiler bucket = 7 docs
    banded = {
        (r.doc_a, r.doc_b) for r in dedup.capped_banded_edges(df).collect()
    }
    exact = {
        (r.doc_a, r.doc_b) for r in dedup.exact_jaccard_pairs(df).collect()
    }
    assert banded == exact == {(7, 8)}
    # the un-capped (r14 fused full-set) rule disagrees on this corpus:
    # boiler-dominated pairs (including (4, 6)) clear the threshold
    full = {
        (r.doc_a, r.doc_b)
        for r in dedup._fused_band_pairs(dedup.shingle_hash_frame(df))
        .filter(F.col("jaccard") >= dedup.CC_JACCARD)
        .collect()
    }
    assert (4, 6) in full - banded, "corpus no longer separates capped vs full-set"


# r17 (VERDICT item 2a): heavy suite — excluded from the default
# driver-contract run by pytest.ini's `-m "not slow"`; the builder
# gate runs `pytest -m slow` so coverage is unchanged, only WHERE
# it runs moved.
import pytest as _pytest_r17

pytestmark = _pytest_r17.mark.slow
