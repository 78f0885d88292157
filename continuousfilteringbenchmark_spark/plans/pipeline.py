"""End-to-end ER pipeline (SURVEY.md §7 M1 slice).

    docs -> agg_text -> tokens -> blocking -> purging -> (filtering) ->
    comparison propagation -> set-sim scoring -> threshold ->
    connected components -> clusters

This is the reference's Parameter-Free Workflow
(``blockingWorkflows/.../schemaAgnostic/ParameterFreeWorkflow.java:52-61``:
StandardBlocking + ComparisonsBasedBlockPurging + ComparisonPropagation)
extended with the north rule's scoring + transitive clustering.

Stage materialization for resumability lives in plans/stages.py; this module
is the pure logical composition.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..datamodel import agg_text
from ..functions import tokenize as tk
from ..functions.similarity import set_similarity
from ..operators import blocking as B
from ..operators.cluster import clusters_with_singletons


@dataclass
class ERConfig:
    blocking: B.BlockingConfig = field(default_factory=B.BlockingConfig)
    sim: str = "jaccard"
    threshold: float = 0.5
    # salted-key skew splitting for pair emission (north rule): keys with
    # more than this many postings split into salted sub-blocks; None = AQE
    # + purging only (see operators.blocking.pairs_from_blocks)
    salt_threshold: int | None = None


def docs_with_tokens(docs: DataFrame, side_from_prefix: bool = True) -> DataFrame:
    """docs(doc_id, spans) -> (doc_id, side, text, tokens).

    ``side`` is derived from the doc_id prefix ('A:'/'B:') for Clean-Clean
    corpora; Dirty corpora get a constant side.
    """
    side = (
        F.when(F.col("doc_id").startswith("A:"), F.lit("A")).otherwise(F.lit("B"))
        if side_from_prefix
        else F.lit("A")
    )
    return docs.select(
        "doc_id",
        side.alias("side"),
        agg_text("spans").alias("text"),
    ).withColumn("tokens", tk.word_token_set("text"))


def _np_set_similarity(c, a, b, kind: str):
    """Numpy float64 mirror of ``functions.similarity.set_similarity`` — the
    same IEEE-double expression over exact integer operands, so scores are
    bit-identical to the SQL path (int->double is exact below 2^53; +,*,/ and
    sqrt are correctly rounded in both runtimes)."""
    c, a, b = (np.asarray(x, dtype=np.float64) for x in (c, a, b))
    if kind == "cosine":
        return c / np.sqrt(a * b)
    if kind == "dice":
        return 2.0 * c / (a + b)
    if kind == "jaccard":
        return c / (a + b - c)
    raise ValueError(f"unknown similarity {kind!r}")


# bitset-kernel caps (see _bitset): max 64-bit words per doc (vocabulary
# <= 4096) and max bitset-buffer bytes; tests override these to force
# each kernel
_BITSET_MAX_WORDS = 64
_BITSET_MAX_BYTES = 256 * 1024 * 1024
# broadcast-dictionary budget in BYTES (8 B per hashed token + per-doc id
# overhead) — the row-counted cap alone would admit 1M docs x 100 tokens
# ~ 800+ MB on the driver
_DICT_MAX_BYTES = 256 * 1024 * 1024
_DICT_DOC_OVERHEAD = 48  # id string + offset slot per doc, estimated
# set bits per byte value: the bitset kernel's popcount table
_POPCNT = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)

# token-table probe results keyed by (applicationId, semanticHash(hashed),
# cap): repeated score_pairs constructions over the same token table (bench
# iterations, pipeline stages sharing one tokenizer) pay the probe job ONCE.
# FIFO-bounded (a long session scoring many distinct tables must not grow
# it without bound). Staleness note: the key is the PLAN, not the data — if
# files under an identical plan grow between calls the stats undershoot;
# _collect_dictionary is therefore independently bounded by max_rows, so a
# stale 'under cap' can never trigger an unbounded collect.
_probe_cache: dict[tuple, dict] = {}
_PROBE_CACHE_MAX = 64


def _token_stats(hashed: DataFrame, cap: int) -> dict:
    """ONE bounded Spark job over at most ``cap + 1`` docs of the hashed
    token table: doc count (bounded), total token count, approximate
    vocabulary. Cached per (session, plan, input-file set) so
    re-constructions are free: the file-set component means the common
    growth mode — new files appended under the same path, identical plan —
    re-probes instead of serving stale (undershooting) stats. In-place file
    rewrites still alias to the old entry; ``_collect_dictionary`` re-checks
    the caps on the actual collect regardless."""
    try:
        files_sig = hash(tuple(sorted(hashed.inputFiles())))
    except Exception:
        files_sig = 0
    key = (
        hashed.sparkSession.sparkContext.applicationId,
        hashed.semanticHash(),
        files_sig,
        cap,
    )
    hit = _probe_cache.get(key)
    if hit is not None:
        return hit
    row = (
        hashed.limit(cap + 1)
        .select(F.posexplode_outer("_h").alias("_pos", "_t"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.coalesce(F.col("_pos"), F.lit(0)) == 0, 1)), F.lit(0)
            ).alias("n_docs"),
            F.count("_t").alias("n_tokens"),
            F.approx_count_distinct("_t").alias("v_est"),
        )
        .collect()[0]
    )
    stats = {
        "n_docs": int(row["n_docs"]),
        "n_tokens": int(row["n_tokens"]),
        "v_est": int(row["v_est"]),
    }
    stats["dict_bytes"] = stats["n_tokens"] * 8 + stats["n_docs"] * _DICT_DOC_OVERHEAD
    _probe_cache[key] = stats
    while len(_probe_cache) > _PROBE_CACHE_MAX:
        _probe_cache.pop(next(iter(_probe_cache)))
    return stats


def _token_csr(table):
    """A (doc_id, _h) Arrow token table as the scorers' dictionary
    ``(pd.Index ids, int64 offsets, int64 flat)``: doc ``i``'s hashed
    tokens are ``flat[offsets[i]:offsets[i + 1]]``. A null token array is
    the empty set."""
    import pandas as pd
    import pyarrow.compute as pc

    col = table.column(1).combine_chunks()
    offsets = np.zeros(len(col) + 1, dtype=np.int64)
    np.cumsum(pc.list_value_length(col).fill_null(0).to_numpy(), out=offsets[1:])
    # flatten() skips the values behind null lists, matching their length 0
    flat = col.flatten().to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    return pd.Index(table.column(0).to_pandas()), offsets, flat


def _runs(flat, offsets, idx, sizes):
    """The token runs of docs ``idx`` (of lengths ``sizes``), concatenated."""
    ends = np.cumsum(sizes)
    return flat[np.arange(sizes.sum()) + np.repeat(offsets[idx] - ends + sizes, sizes)]


def _score_batch(lv, rv, left, right, sim, min_score, bits=None):
    """Exact set similarity of one batch of (left_id, right_id) pairs whose
    tokens live in the ``_token_csr`` dictionaries ``left`` and ``right``;
    returns the surviving (left ids, right ids, scores). Vectorized numpy
    throughout, no per-row python (north rule).

    Pairs with an id absent from its dictionary are dropped — the jvm
    engine's inner-join semantics, so the engine never changes the result.
    With ``min_score`` an exact size bound (the score is maximal at
    c = min(|A|, |B|)) prunes pairs before any intersection work, and only
    scores >= min_score are returned. Common tokens are counted by popcount
    when ``bits`` holds per-doc bitsets (``_bitset``; both sides then share
    one dictionary), else by one single-key sort of (pair, per-batch token
    rank): each side is a set, so an adjacent duplicate key is one common
    token."""
    (lids, loff, lflat), (rids, roff, rflat) = left, right
    li, ri = lids.get_indexer(lv), rids.get_indexer(rv)
    keep = (li >= 0) & (ri >= 0)
    lv, rv, li, ri = lv[keep], rv[keep], li[keep], ri[keep]
    lsz, rsz = loff[li + 1] - loff[li], roff[ri + 1] - roff[ri]
    if min_score is not None:
        keep = _np_set_similarity(np.minimum(lsz, rsz), lsz, rsz, sim) >= min_score
        lv, rv, li, ri, lsz, rsz = (a[keep] for a in (lv, rv, li, ri, lsz, rsz))
    n = len(lv)
    if bits is not None:
        common = _POPCNT[(bits[li] & bits[ri]).view(np.uint8)].sum(axis=1, dtype=np.int64)
    else:
        toks = np.concatenate([_runs(lflat, loff, li, lsz), _runs(rflat, roff, ri, rsz)])
        _, rank = np.unique(toks, return_inverse=True)
        v = int(rank.max(initial=0)) + 1
        key = np.repeat(np.tile(np.arange(n), 2), np.concatenate([lsz, rsz])) * v + rank
        if n * v < 2**31:
            key = key.astype(np.int32)  # the narrower sort is ~3x faster
        key.sort()
        common = np.bincount(key[1:][key[1:] == key[:-1]] // v, minlength=n)
    score = _np_set_similarity(common, lsz, rsz, sim)
    if min_score is not None:
        keep = score >= min_score
        lv, rv, score = lv[keep], rv[keep], score[keep]
    return lv, rv, score


def _collect_dictionary(hashed: DataFrame, max_rows: int | None):
    """The hashed token table collected to the driver as a ``_token_csr``
    dictionary, or None when it is over ``max_rows`` rows or
    ``_DICT_MAX_BYTES``. The collect is itself bounded to ``max_rows + 1``
    rows and the caps are checked on what it collected: the probe stats
    that routed here are cached per plan and undershoot if the files grew.
    ``max_rows=None`` collects the whole table and checks no cap."""
    if max_rows is None:
        return _token_csr(hashed.toArrow())
    d = _token_csr(hashed.limit(max_rows + 1).toArrow())
    n_docs = len(d[0])
    if n_docs > max_rows or d[2].size * 8 + n_docs * _DICT_DOC_OVERHEAD > _DICT_MAX_BYTES:
        return None
    return d


def _bitset(d):
    """Per-doc token bitsets (n_docs x W uint64 words over the dense ranks
    of the exact vocabulary) of dictionary ``d``, or None when they bust
    the bitset caps. The popcount kernel is O(pairs x W) with no sort — it
    wins by orders of magnitude while W stays small; past the caps the
    sort kernel or the jvm join takes over."""
    _, offsets, flat = d
    vocab, rank = np.unique(flat, return_inverse=True)
    n_docs, w = offsets.size - 1, (max(vocab.size, 1) + 63) // 64
    if w > _BITSET_MAX_WORDS or n_docs * w * 8 > _BITSET_MAX_BYTES:
        return None
    bits = np.zeros(n_docs * w, dtype=np.uint64)
    word = np.repeat(np.arange(n_docs) * w, np.diff(offsets)) + (rank >> 6)
    np.bitwise_or.at(bits, word, np.left_shift(np.uint64(1), (rank & 63).astype(np.uint64)))
    return bits.reshape(n_docs, w)


def _score_pairs_arrow(pairs: DataFrame, d, sim: str, min_score, bits) -> DataFrame:
    """Arrow-batched pair scorer over the broadcast dictionary ``d`` (and
    its ``bits``, when the bitset kernel applies): only (left_id, right_id)
    crosses Arrow, and each batch is one ``_score_batch`` call with ``d`` on
    both sides."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    if bits is not None:
        d = (d[0], d[1], d[2][:0])  # the bitsets replace the token runs
    bc = pairs.sparkSession.sparkContext.broadcast((d, bits))
    out_schema = StructType(
        [
            StructField("left_id", pairs.schema["left_id"].dataType),
            StructField("right_id", pairs.schema["right_id"].dataType),
            StructField("score", DoubleType()),
        ]
    )

    def batches(it):
        import pandas as pd

        d_, bits_ = bc.value
        for pdf in it:
            lv, rv, score = _score_batch(
                pdf["left_id"].values, pdf["right_id"].values, d_, d_, sim, min_score, bits_
            )
            if len(score):
                yield pd.DataFrame({"left_id": lv, "right_id": rv, "score": score})

    return pairs.select("left_id", "right_id").mapInPandas(batches, out_schema)


def score_pairs(
    pairs: DataFrame,
    tokened: DataFrame,
    sim: str = "jaccard",
    broadcast_rows: int | None = 1_000_000,
    engine: str = "auto",
    min_score: float | None = None,
    bucket_path: str | None = None,
) -> DataFrame:
    """Score candidate (left_id, right_id) pairs with exact set similarity.

    Tokens ride as hashed 64-bit ids (``tk.hash_token_set``) — primitive
    long arrays instead of string arrays everywhere downstream. The arrow
    and bucketed engines share one numpy kernel, ``_score_batch``, over
    ``_token_csr`` dictionaries; all engines return bit-identical scores.

    ``engine``:

    * ``"arrow"`` — the token table is collected once to the driver
      (bounded by ``broadcast_rows`` and ``_DICT_MAX_BYTES``; ValueError
      when over either) and broadcast; only pair ids cross Arrow. Counts
      common tokens by bitset popcount while the exact vocabulary fits
      the bitset caps, else by a per-batch sort.
    * ``"jvm"`` — join the token arrays onto the pairs and
      ``size(array_intersect(...))``. The generic pure-DataFrame path:
      beyond the broadcast cap it is two shuffle joins whose intermediate
      carries one token-array copy PER PAIR — measured 83 GB shuffle at 1M
      entities (BENCH/NOTES.md), which is why the over-cap default is the
      bucketed engine, not this.
    * ``"bucketed"`` — the scale path past the broadcast cap
      (``plans.bucketed.score_pairs_bucketed``): pairs shuffle by bucket-
      grid cell as bare id rows and each cell task reads its two token
      buckets side-band from the ``write_token_buckets`` store — no token
      bytes in any shuffle, no driver collect, no size caps. Requires
      ``bucket_path``.
    * ``"auto"`` — under the cap, arrow with the bitset kernel when the
      exact vocabulary fits the bitset caps, else the jvm join with a
      broadcast hint (the sort kernel loses to it at those sizes). Over
      the cap (or with ``broadcast_rows=None``), bucketed when
      ``bucket_path`` is given and the ids are strings (the bucketed engine
      emits string ids), else the jvm join with no hint.

    ``min_score``: when set, only pairs with score >= min_score are
    returned, and an exact size-bound prefilter (score at c = min(|A|,|B|)
    is the achievable maximum) prunes un-passable pairs BEFORE any
    intersection work — pure codegen in the jvm path, numpy in the kernel.

    Probe budget (what runs at CONSTRUCTION time, before any action on the
    returned plan):

    * ``engine='jvm'`` or ``'bucketed'`` — ZERO jobs; for jvm,
      broadcast-vs-shuffle is left to AQE's runtime statistics.
    * ``engine='auto'`` with a cap — ONE job, bounded to
      ``broadcast_rows + 1`` docs, computing (doc count, token count,
      approx vocabulary) in a single pass; cached per (session, token-table
      plan), so repeated constructions over the same table probe once.
      When those stats fit the caps, auto also collects the dictionary,
      which re-checks the row/byte caps on the collected data: if the
      cached stats undershot, the table is proven over the cap and the
      plan falls through as over-cap.
    * ``engine='arrow'`` — ZERO probe jobs, just the dictionary collect
      (bounded to ``broadcast_rows + 1`` rows; ``broadcast_rows=None``
      accepts an unbounded collect with no caps).
    """
    if engine not in ("auto", "jvm", "arrow", "bucketed"):
        raise ValueError(
            f"unknown engine {engine!r} (one of auto/jvm/arrow/bucketed)"
        )
    if engine == "bucketed" and bucket_path is None:
        raise ValueError("engine='bucketed' requires bucket_path")
    hashed = tokened.select("doc_id", tk.hash_token_set(F.col("tokens")).alias("_h"))
    if engine == "arrow":
        d = _collect_dictionary(hashed, broadcast_rows)
        if d is None:
            raise ValueError(
                f"engine='arrow' token dictionary is over its caps "
                f"({broadcast_rows} rows / {_DICT_MAX_BYTES} bytes); use "
                "engine='jvm' or broadcast_rows=None to accept an unbounded collect"
            )
        return _score_pairs_arrow(pairs, d, sim, min_score, _bitset(d))

    hint_broadcast = False
    if engine == "auto" and broadcast_rows is not None:
        stats = _token_stats(hashed, broadcast_rows)
        hint_broadcast = (
            stats["n_docs"] <= broadcast_rows and stats["dict_bytes"] <= _DICT_MAX_BYTES
        )
        w_est = (int(stats["v_est"] * 1.2) + 63) // 64
        if (
            hint_broadcast
            and w_est <= _BITSET_MAX_WORDS
            and stats["n_docs"] * w_est * 8 <= _BITSET_MAX_BYTES
        ):
            d = _collect_dictionary(hashed, broadcast_rows)
            # None: the cached stats undershot and the table is proven over
            # the cap — never force-broadcast it below
            hint_broadcast = d is not None
            bits = None if d is None else _bitset(d)
            if bits is not None:
                return _score_pairs_arrow(pairs, d, sim, min_score, bits)
    if engine == "bucketed" or (
        engine == "auto"
        and not hint_broadcast
        and bucket_path is not None
        and isinstance(pairs.schema["left_id"].dataType, StringType)
    ):
        from .bucketed import score_pairs_bucketed

        return score_pairs_bucketed(pairs, bucket_path, sim, min_score=min_score)

    lt = hashed.select(
        F.col("doc_id").alias("left_id"),
        F.col("_h").alias("_ltok"),
        F.size("_h").alias("_lsz"),
    )
    rt = hashed.select(
        F.col("doc_id").alias("right_id"),
        F.col("_h").alias("_rtok"),
        F.size("_h").alias("_rsz"),
    )
    if hint_broadcast:
        lt, rt = F.broadcast(lt), F.broadcast(rt)
    scored = pairs.join(lt, "left_id").join(rt, "right_id")
    if min_score is not None:
        max_achievable = set_similarity(
            F.least("_lsz", "_rsz"), F.col("_lsz"), F.col("_rsz"), sim
        )
        scored = scored.where(max_achievable >= F.lit(min_score))
    scored = scored.withColumn(
        "_common", F.size(F.array_intersect("_ltok", "_rtok"))
    ).withColumn(
        "score", set_similarity(F.col("_common"), F.col("_lsz"), F.col("_rsz"), sim)
    )
    if min_score is not None:
        scored = scored.where(F.col("score") >= F.lit(min_score))
    return scored.select("left_id", "right_id", "score")


def er_pipeline(
    docs: DataFrame, cfg: ERConfig | None = None, clean_clean: bool = True
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns every stage for materialization/tests.

    Keys: tokened, blocks, candidate_pairs, matches, clusters.
    """
    cfg = cfg or ERConfig()
    cfg.blocking.clean_clean = clean_clean
    tokened = docs_with_tokens(docs, side_from_prefix=clean_clean)
    blocks = B.build_blocks(tokened, cfg.blocking)
    pairs = B.pairs_from_blocks(blocks, clean_clean, salt_threshold=cfg.salt_threshold)
    # min_score pushes the threshold into the scorer (exact size-bound
    # prefilter before any intersection work)
    matches = score_pairs(pairs, tokened, cfg.sim, min_score=cfg.threshold)
    # matches are distinct by construction (B8 comparison propagation ends in
    # a pair distinct; scoring is 1-row-in-1-row-out)
    clusters = clusters_with_singletons(
        docs, matches.select("left_id", "right_id"), input_distinct=True
    )
    return {
        "tokened": tokened,
        "blocks": blocks,
        "candidate_pairs": pairs,
        "matches": matches,
        "clusters": clusters,
    }
