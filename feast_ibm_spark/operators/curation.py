"""Corpus curation pipeline: exact dedup → [ExactSubstr cut] → quality
floor → near-dup prune.

One operator for the composed training-data pipeline (the per-stage
operators live in ``dedup.py`` / ``functions/text.py`` and are each
oracle-gated on their own). The only scale-sensitive choice is the
near-dup tier:

- ``exact``  — inverted-index n-gram Jaccard self-join. Complete, but the
  candidate-pair count is sum(c^2) over shingle document frequencies:
  quadratic on boilerplate-heavy corpora. Fastest at small scale
  (measured: wins at sf0.1).
- ``lsh``    — MinHash + banded LSH candidate generation (bounded bucket
  equi-join), exact-verified. Linear-ish; measured ~4-5x faster at 10x
  sf0.1 and the only viable tier at 100 TB.
- ``auto``   — pick by INPUT BYTES from file metadata (a driver-side
  listing; no data scan, no extra Spark job — counting rows to decide
  would itself cost a full pass at 100 TB). Below ``lsh_min_bytes`` use
  exact, else LSH. Both tiers produce the same survivors on corpora where
  LSH recall ~1 (banding at k=32/b=16/r=2 gives ~0.99 recall at J>=0.5),
  so the switch trades only the documented tail of sub-threshold recall.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import quality_score_col, token_count_col
from .dedup import exact_dedup, minhash_lsh_pairs, ngram_jaccard_pairs
from .spread import input_size_bytes  # noqa: F401

# Measured crossover (scripts/sf1_smoke.py, NOTES.md): exact tier wins at
# sf0.1 (~5 MB of text; 0.6s vs 1.1s) but loses decisively at 10x that
# (~50 MB: 19.2s vs 5.0s in the round-4 smoke — the old 64 MiB default
# made `auto` pick the losing tier there). The crossover sits between 5
# and 50 MB; 16 MiB splits it geometrically and errs toward LSH, the
# tier that stays viable as inputs grow.
DEFAULT_LSH_MIN_BYTES = 16 << 20


# input_size_bytes moved to operators/spread.py (round 12) so the
# UDF-spread helper can use it without a curation<->dedup import cycle;
# re-exported here for existing callers.
def remove_boilerplate_segments(
    docs: DataFrame,
    seg_tokens: int = 3,
    min_docs: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RefinedWeb/CCNet-style repeated-segment removal: split each
    document into consecutive ``seg_tokens``-token segments, find
    segments occurring in >= ``min_docs`` DISTINCT documents (nav bars,
    cookie banners, license headers — the cross-document boilerplate
    exact-dedup can't see because the surrounding text differs), drop
    those segments from every document, and reconstruct the text from
    the surviving segments in order.

    Plan shape: one explode (map-side, streams out of the scan), one
    grouped distinct-count to find the hot set, a BROADCAST anti-join
    against it — the hot set is tiny by construction (it is the
    heavy-hitter tail of the segment distribution), so the corpus never
    reshuffles for the filter — then one groupBy(doc) to reassemble.
    ``array_sort`` over (seg_idx, seg) structs restores order without a
    window.

    Output: (id, clean_text, n_segments, n_removed); a fully-boilerplate
    document survives with clean_text = ''.
    """
    toks = docs.select(
        F.col(id_col),
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), " ").alias(
            "t"
        ),
    )
    n_seg = F.ceil(F.size("t") / F.lit(seg_tokens)).cast("bigint")
    counts = toks.withColumn("n_segments", n_seg)
    seg = counts.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.col("n_segments") - 1),
                lambda i: F.concat_ws(
                    " ", F.slice("t", i * seg_tokens + 1, seg_tokens)
                ),
            )
        ).alias("seg_idx", "seg"),
    )
    hot = (
        seg.groupBy("seg")
        .agg(F.countDistinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("seg")
    )
    kept = seg.join(F.broadcast(hot), "seg", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("seg_idx", "seg"))
                ),
                lambda x: x["seg"],
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        counts.select(id_col, "n_segments")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_segments",
            (
                F.col("n_segments") - F.coalesce(F.col("n_kept"), F.lit(0))
            ).alias("n_removed"),
        )
    )


def curate_corpus(
    docs: DataFrame,
    quality_floor: float,
    ngram_n: int = 3,
    jaccard_threshold: float = 0.5,
    tier: str = "auto",
    lsh_min_bytes: int = DEFAULT_LSH_MIN_BYTES,
    id_col: str = "doc_id",
    text_col: str = "text",
    exact_substr_min_len: int | None = None,
    persist_survivors: bool = False,
) -> DataFrame:
    """Returns surviving ``(id, n_tokens, quality_score)`` rows after
    exact dedup, the quality floor, and near-dup pruning (the LOWER id of
    each near-dup pair survives).

    ``exact_substr_min_len`` inserts the ExactSubstr CUT
    (operators/exact_substr.cut_duplicated_spans, Lee et al. 2021)
    between exact dedup and the quality floor — the RefinedWeb-style
    composition where cross-document duplicated runs are deleted before
    any text-derived statistic is computed, so quality scores, token
    counts and near-dup shingles all see the CUT text. Stage order is
    load-bearing: the cut must run AFTER exact dedup (on a corpus with
    exact twins every 40-gram of a twinned doc is "duplicated" and the
    cut would erase both copies to empty) and BEFORE quality/near-dup
    (post-cut text is what survives to training). Documents whose text
    is entirely duplicated elsewhere (e.g. a short doc fully quoted in
    a longer one — the containment shape) cut to empty and are DROPPED:
    they carry zero novel text. None (default) skips the stage.

    ``persist_survivors``: Default False since round 13 (was True). It
    caches the post-dedup post-floor frame before the near-dup stage.
    The round-12 True default was justified by an A/B run on a degraded
    host where the query cost 4.5-5.5 s; at the query's real ~1.3-1.7 s
    operating point the per-run MEMORY_AND_DISK cache write is a net
    LOSS on both tiers (round-13 interleaved medians at sf0.1, caches
    dropped between runs: exact 2.73 s cached vs 1.69 s uncached on the
    r12 index shape and parity-to-worse on the restored self-join shape;
    lsh 2.05 cached vs 1.69 uncached). The survivors subplan's repeated
    references mostly resolve to ONE reused broadcast exchange at
    physical planning, so the recompute the cache was buying off is far
    cheaper than assumed. Pass True for nondeterministic upstreams (e.g.
    a sampled corpus), where recompute would be WRONG, not just slow —
    that is the flag's remaining contract."""
    if tier not in ("exact", "lsh", "auto"):
        raise ValueError(f"unknown tier: {tier}")
    if tier == "auto":
        size = input_size_bytes(docs)
        # unknown size (derived frame): assume big — LSH is the safe tier
        tier = "exact" if size is not None and size < lsh_min_bytes else "lsh"

    deduped = exact_dedup(docs).select(id_col, text_col)
    if exact_substr_min_len is not None:
        from .exact_substr import cut_duplicated_spans

        deduped = cut_duplicated_spans(
            deduped, text_col=text_col, id_col=id_col,
            min_len=exact_substr_min_len,
        ).filter(F.length(F.trim(F.col(text_col))) > 0)

    s = quality_score_col(text_col)
    survivors = (
        deduped
        .withColumn("quality_score", s.quality_score)
        .filter(F.col("quality_score") >= quality_floor)
    )
    if persist_survivors:
        from pyspark.storagelevel import StorageLevel

        survivors = survivors.persist(StorageLevel.MEMORY_AND_DISK)
    if tier == "exact":
        pairs = ngram_jaccard_pairs(
            survivors, n=ngram_n, threshold=jaccard_threshold
        )
    else:
        pairs = minhash_lsh_pairs(
            survivors, n=ngram_n, threshold=jaccard_threshold
        )
    losers = pairs.select(F.col("doc_b").alias(id_col))
    return (
        survivors.join(losers, id_col, "left_anti")
        .select(
            id_col,
            token_count_col(text_col).alias("n_tokens"),
            "quality_score",
        )
    )


def curate_corpus_incremental(
    incoming: DataFrame,
    existing: DataFrame,
    quality_floor: float,
    ngram_n: int = 3,
    jaccard_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The continuous-ingestion form of :func:`curate_corpus`: admit a
    NEW batch against an existing corpus without re-curating history.

    Stages (mirroring the batch pipeline, each against the right scope):

    1. exact dedup WITHIN the batch (lowest id per text);
    2. exact dedup AGAINST the corpus — anti-join on the text value
       (swap in ``xxhash64(text)`` as the key at 100 TB, same as
       ``exact_dedup`` documents);
    3. quality floor on what remains;
    4. near-dup pruning: batch docs near-duplicating a CORPUS doc drop
       (``jaccard_dedup_against`` — shingle-keyed index join, linear in
       batch+corpus, never a corpus self-join), and within the batch the
       lower id of each near-dup pair survives (the batch-local pair
       generator, batch-sized input only).

    History is never rescanned beyond its inverted index build; at scale
    the corpus-side shingle index is the thing to persist/bucketize
    across batches. Output matches ``curate_corpus``:
    (id, n_tokens, quality_score) of ADMITTED batch docs."""
    deduped = exact_dedup(incoming, text_col=text_col, id_col=id_col).select(
        id_col, text_col
    )
    deduped = deduped.join(
        existing.select(text_col).distinct(), text_col, "left_anti"
    )
    s = quality_score_col(text_col)
    survivors = deduped.withColumn(
        "quality_score", s.quality_score
    ).filter(F.col("quality_score") >= quality_floor)

    from .dedup import jaccard_dedup_against

    cross = jaccard_dedup_against(
        survivors, existing, threshold=jaccard_threshold, n=ngram_n,
        text_col=text_col, id_col=id_col,
    ).select(id_col)
    within = ngram_jaccard_pairs(
        survivors, n=ngram_n, threshold=jaccard_threshold,
        text_col=text_col, id_col=id_col,
    ).select(F.col("doc_b").alias(id_col))
    drops = cross.unionByName(within).distinct()
    return (
        survivors.join(drops, id_col, "left_anti")
        .select(
            id_col,
            token_count_col(text_col).alias("n_tokens"),
            "quality_score",
        )
    )
