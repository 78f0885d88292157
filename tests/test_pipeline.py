"""End-to-end ER pipeline: the BASELINE.json gates.

* pairwise F1 >= 0.99 vs planted gold clusters on the DBLP-ACM-style fixture
* span-sequence invariant (kind, text, media_ref, order) through every stage
* determinism across parallelism (identical match sets at different
  partition counts)
"""

import pytest
from pyspark.sql import functions as F

from continuousfilteringbenchmark_spark.datamodel import agg_text, span_invariant_hash
from continuousfilteringbenchmark_spark.eval import evaluate_clusters, evaluate_pairs
from continuousfilteringbenchmark_spark.plans.pipeline import ERConfig, er_pipeline


@pytest.fixture(scope="module")
def result(cc_corpus):
    return er_pipeline(cc_corpus.docs, ERConfig(threshold=0.5), clean_clean=True)


def test_blocking_recall_above_bar(result, cc_corpus):
    # reference tuning bar: PC >= 0.9 on candidates (Poster_ICDE.pdf p.1)
    m = evaluate_pairs(result["candidate_pairs"], cc_corpus.gold_pairs)
    assert m.pc >= 0.95, f"PC={m.pc}"


def test_pairwise_f1_gate(result, cc_corpus):
    m = evaluate_clusters(result["clusters"], cc_corpus.gold_pairs)
    assert m.f1 >= 0.99, f"F1={m.f1} PC={m.pc} PQ={m.pq}"


def test_span_invariant_through_pipeline(cc_corpus, result, spark):
    # docs joined with any pipeline output must carry identical span hashes
    before = cc_corpus.docs.select("doc_id", span_invariant_hash("spans").alias("h_in"))
    # run docs through a shuffle-heavy path: join with clusters, repartition
    after = (
        cc_corpus.docs.join(result["clusters"], "doc_id")
        .repartition(16, "cluster_id")
        .select("doc_id", span_invariant_hash("spans").alias("h_out"))
    )
    diff = before.join(after, "doc_id").where(F.col("h_in") != F.col("h_out")).count()
    assert diff == 0


def test_media_spans_opaque(cc_corpus):
    # media spans never contribute text to the schema-agnostic view
    texts = cc_corpus.docs.select(agg_text("spans").alias("t")).collect()
    assert all("ref://" not in (r.t or "") for r in texts)


def test_determinism_across_parallelism(cc_corpus):
    r2 = er_pipeline(cc_corpus.docs.repartition(2), ERConfig(), clean_clean=True)
    r8 = er_pipeline(cc_corpus.docs.repartition(8), ERConfig(), clean_clean=True)
    p2 = {(r.left_id, r.right_id) for r in r2["matches"].select("left_id", "right_id").collect()}
    p8 = {(r.left_id, r.right_id) for r in r8["matches"].select("left_id", "right_id").collect()}
    assert p2 == p8


def test_dirty_er_pipeline(dirty):
    res = er_pipeline(dirty.docs, ERConfig(threshold=0.5), clean_clean=False)
    m = evaluate_clusters(res["clusters"], dirty.gold_pairs)
    assert m.f1 >= 0.95, f"F1={m.f1} PC={m.pc} PQ={m.pq}"


def test_score_pairs_engines_identical(cc_corpus, monkeypatch):
    """jvm / arrow-bitset / arrow-sort kernels return bit-identical scores,
    and min_score == post-hoc filter (the size-bound prefilter is exact)."""
    import continuousfilteringbenchmark_spark.plans.pipeline as P
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.plans.pipeline import docs_with_tokens, score_pairs

    tokened = docs_with_tokens(cc_corpus.docs, side_from_prefix=True)
    blocks = B.build_blocks(tokened, B.BlockingConfig(clean_clean=True))
    pairs = B.pairs_from_blocks(blocks, clean_clean=True)

    def rows(df):
        return {(r.left_id, r.right_id, r.score) for r in df.collect()}

    base = rows(score_pairs(pairs, tokened, "jaccard", engine="jvm"))
    assert rows(score_pairs(pairs, tokened, "jaccard", engine="arrow")) == base
    monkeypatch.setattr(P, "_BITSET_MAX_WORDS", 0)  # force the sort kernel
    assert rows(score_pairs(pairs, tokened, "jaccard", engine="arrow")) == base
    expected = {t for t in base if t[2] >= 0.5}
    got = rows(score_pairs(pairs, tokened, "jaccard", engine="arrow", min_score=0.5))
    assert got == expected
    monkeypatch.undo()
    got = rows(score_pairs(pairs, tokened, "jaccard", engine="arrow", min_score=0.5))
    assert got == expected
    got = rows(score_pairs(pairs, tokened, "jaccard", engine="jvm", min_score=0.5))
    assert got == expected



def test_explicit_arrow_over_row_cap_raises(cc_corpus):
    """engine='arrow' with a row cap below the doc count refuses the
    collect instead of silently routing elsewhere."""
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.plans.pipeline import docs_with_tokens, score_pairs

    tokened = docs_with_tokens(cc_corpus.docs, side_from_prefix=True)
    pairs = B.pairs_from_blocks(
        B.build_blocks(tokened, B.BlockingConfig(clean_clean=True)), clean_clean=True
    )
    n_docs = tokened.count()
    with pytest.raises(ValueError, match="over its caps"):
        score_pairs(pairs, tokened, "jaccard", engine="arrow", broadcast_rows=n_docs - 1)

def test_score_pairs_construction_job_budget(cc_corpus, spark):
    """The documented probe budget is real: constructing (not executing) a
    score_pairs plan runs ZERO Spark jobs for engine='jvm', and at most ONE
    bounded probe job for engine='auto' — with the probe cached, so a second
    construction over the same token table runs zero."""
    import continuousfilteringbenchmark_spark.plans.pipeline as P
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.plans.pipeline import (
        docs_with_tokens,
        score_pairs,
    )

    tokened = docs_with_tokens(cc_corpus.docs, side_from_prefix=True)
    blocks = B.build_blocks(tokened, B.BlockingConfig(clean_clean=True))
    pairs = B.pairs_from_blocks(blocks, clean_clean=True)

    def n_jobs() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    before = n_jobs()
    score_pairs(pairs, tokened, "jaccard", engine="jvm")
    assert n_jobs() == before, "engine='jvm' construction must submit no jobs"

    P._probe_cache.clear()
    before = n_jobs()
    score_pairs(pairs, tokened, "jaccard", engine="auto")
    auto_jobs = n_jobs() - before
    # one bounded stats probe (AQE may split a query into a few jobs), plus
    # the dictionary collect iff auto picked arrow — a small constant either
    # way, not per-pair / per-doc work
    assert 1 <= auto_jobs <= 6, f"auto construction ran {auto_jobs} jobs"
    before = n_jobs()
    score_pairs(pairs, tokened, "jaccard", engine="auto")
    again = n_jobs() - before
    assert again < auto_jobs, "probe result must be cached across constructions"


def test_auto_overcap_fallback_clears_broadcast_hint(cc_corpus, monkeypatch):
    """When the probe's cached stats undershoot and the ACTUAL collected
    dictionary busts the caps (_OVER_CAP), auto must fall back to the jvm
    join WITHOUT the broadcast hint — the table was just proven over-cap."""
    import continuousfilteringbenchmark_spark.plans.pipeline as P
    from continuousfilteringbenchmark_spark.operators import blocking as B
    from continuousfilteringbenchmark_spark.plans.pipeline import (
        docs_with_tokens,
        score_pairs,
    )

    tokened = docs_with_tokens(cc_corpus.docs, side_from_prefix=True)
    blocks = B.build_blocks(tokened, B.BlockingConfig(clean_clean=True))
    pairs = B.pairs_from_blocks(blocks, clean_clean=True)

    base = {
        (r.left_id, r.right_id, r.score)
        for r in score_pairs(pairs, tokened, "jaccard", engine="jvm").collect()
    }

    # stale-probe scenario: cached stats say "tiny", reality busts the cap
    score_pairs(pairs, tokened, "jaccard", engine="auto")  # populate cache
    for stats in P._probe_cache.values():
        stats["dict_bytes"] = 8
        stats["v_est"] = 1
    monkeypatch.setattr(P, "_DICT_MAX_BYTES", 16)

    df = score_pairs(pairs, tokened, "jaccard", engine="auto")
    # upstream blocking legitimately broadcast-hints its tiny key tables, so
    # compare hint COUNTS against the plain jvm plan (hint_broadcast=False):
    # the over-cap fallback must add ZERO hints of its own
    jvm_df = score_pairs(pairs, tokened, "jaccard", engine="jvm")
    n_hints = lambda d: d._jdf.queryExecution().analyzed().toString().count(
        "ResolvedHint"
    )
    assert n_hints(df) == n_hints(jvm_df), (
        "over-cap fallback must not force-broadcast the token table"
    )
    got = {(r.left_id, r.right_id, r.score) for r in df.collect()}
    assert got == base
    P._probe_cache.clear()
