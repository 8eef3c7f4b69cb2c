"""ExactSubstr — substring-level exact deduplication (Lee et al. 2021).

"Deduplicating Training Data Makes Language Models Better" (Lee et al.
2021, see PAPERS.md) deduplicates at SUBSTRING granularity: any character
run of length >= L that occurs in more than one document is duplicated
text, even when the two documents agree on nothing else. Document-level
tiers (Jaccard, containment — ``operators/dedup.py``) structurally miss
this: a 50-char license line shared by two otherwise-disjoint documents
moves their Jaccard by ~0, but it is exactly the kind of memorization
fuel ExactSubstr exists to find.

The paper's single-node algorithm is a suffix array over the concatenated
corpus — inherently sequential and RAM-bound. The Spark-first
re-formulation keys everything by the length-L character gram (the
"anchor"):

- a substring of length >= L is shared between two documents
  **iff** at least one of its length-L grams is shared, so the L-gram
  inverted index is a lossless reduction (no recall argument needed —
  it is an equivalence, not an approximation);
- :func:`exact_substr_pairs` — the document-pair view: explode each
  document's DISTINCT L-grams, hash them to 8-byte keys map-side,
  self-join on the gram key. Output (doc_a, doc_b, n_shared) counts the
  distinct shared grams — the evidence mass of duplicated text between
  the pair. Same inverted-index shape as ``ngram_jaccard_pairs``; the
  shuffle key is the gram, so pairs only ever meet on real shared text.
- :func:`duplicated_spans` — the paper's actual deliverable: the maximal
  per-document character intervals covered by text that also occurs in
  another document (the spans you cut before training). This is the
  100 TB tier: it needs NO self-join at all — a gram is "duplicated"
  iff it occurs in >= 2 distinct documents, which one groupBy
  (min(doc) != max(doc)) answers in time LINEAR in corpus size. Hot
  boilerplate grams that would fan a pair-join out c-squared cost the
  span path exactly c rows. Interval merging is a per-document
  gaps-and-islands window over gram offsets.

Scale ledger: the pair view is the oracle-checked twin (its self-join is
sum(c^2) over per-gram doc frequencies — fine at corpus scale when grams
are near-unique, quadratic under boilerplate floods; ``max_gram_freq``
caps the fan-out at the cost of exactness, mirroring
``ngram_jaccard_pairs``). The span view is the default at 100 TB: one
shuffle keyed by gram hash, one shuffle keyed by doc — no term is
quadratic. Measured flood datapoint: NOTES.md "ExactSubstr flood 10x".

Reference parity note: the reference engine (ibm_data_engine/, 802 LoC of
SQL-text generation) has no dedup surface at all; this module is part of
the LLM-pipeline mandate, not reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Measured whale edge (NOTES.md "ExactSubstr whale document"): the
# hash-agg -> sort pipeline behind duplicated_spans is spill-safe once
# the per-task fair share clears ~250 MB; at 93 MB/task (3 GB heap /
# 32 slots) a 16 MB fully-duplicated whale doc OOMs the JVM opaquely.
_FAIR_SHARE_EDGE_BYTES = 250 << 20


def _whale_safe_partitions(pool_bytes: float | None,
                           n_slots: int | None) -> int | None:
    """The guard decision, kept PURE so the boundary is unit-testable:
    given the executor unified-memory pool and its concurrent task
    slots, return None when the per-task fair share
    (``pool / slots``) clears the measured ~250 MB edge, else the
    partition count that restores that share. Mirrors pit_join's
    auto-salt-budget pattern: a session-derived bound, applied
    automatically, loud when it fires."""
    if not pool_bytes or not n_slots or n_slots <= 0:
        return None
    if pool_bytes / n_slots >= _FAIR_SHARE_EDGE_BYTES:
        return None
    return max(1, int(pool_bytes // _FAIR_SHARE_EDGE_BYTES))


def _parse_jvm_mem(s: str) -> int:
    """Parse a JVM memory string ("3g", "512m", "2048k", bytes)."""
    s = s.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if s and s[-1] in mult:
        return int(float(s[:-1]) * mult[s[-1]])
    return int(s)


def _session_pool_and_slots(spark) -> tuple[float | None, int | None]:
    """Best-effort (executor unified-memory pool bytes, concurrent task
    slots). Local mode: the driver JVM IS the executor, so
    Runtime.maxMemory is the real heap (conf strings can lie when the
    JVM was started with different flags); cluster mode:
    spark.executor.memory. Returns (None, None) when introspection is
    unavailable (e.g. Spark Connect) — the guard then leaves the plan
    alone rather than guessing."""
    try:
        sc = spark.sparkContext
        local = sc.master.startswith("local")
        mem_conf = sc.getConf().get("spark.executor.memory", None)
        if mem_conf and not local:
            heap = _parse_jvm_mem(mem_conf)
        else:
            heap = int(sc._jvm.java.lang.Runtime.getRuntime().maxMemory())
        frac = float(sc.getConf().get("spark.memory.fraction", "0.6"))
        pool = max(0.0, (heap - (300 << 20)) * frac)
        if local:
            # the single JVM is the executor; defaultParallelism IS its
            # slot count
            slots = sc.defaultParallelism
        else:
            # cluster mode: the pool above is PER EXECUTOR, so slots
            # must be per-executor too — defaultParallelism is the
            # CLUSTER-TOTAL core count and would understate the fair
            # share by the executor count, firing the guard spuriously
            # and collapsing cluster-wide parallelism (ADVICE r10).
            exec_cores = sc.getConf().get("spark.executor.cores", None)
            if exec_cores is None:
                return None, None  # unknown topology: don't guess
            task_cpus = int(sc.getConf().get("spark.task.cpus", "1"))
            slots = max(1, int(exec_cores) // max(1, task_cpus))
        return pool, slots
    except Exception:
        return None, None


def _tiered_seg_cols(df: DataFrame, seg_col: str = "__seg") -> DataFrame:
    """Attach the per-row gram-tier columns to a STRING segment column:
    ``__ascii`` (byte length == codepoint length), ``__bin`` (the UTF-8
    bytes, ASCII rows only) and ``__chars`` (the codepoint array,
    non-ASCII rows only). ``when()`` evaluates lazily per row, so an
    all-ASCII corpus never pays the ``split`` (which materializes one
    single-char UTF8String per codepoint) and a non-ASCII corpus never
    pays the binary cast."""
    return (
        df.withColumn(
            "__ascii", F.octet_length(seg_col) == F.length(seg_col)
        )
        .withColumn(
            "__bin", F.when(F.col("__ascii"), F.col(seg_col).cast("binary"))
        )
        .withColumn(
            "__chars", F.when(~F.col("__ascii"), F.split(seg_col, ""))
        )
    )


def _tiered_gram_array(seg_col: str, min_len: int, hashed: bool):
    """Array of ALL length-``min_len`` character grams of a segment
    prepared by :func:`_tiered_seg_cols` (one per start offset,
    1-based); with ``hashed`` each gram is the 64-bit xxhash of its
    UTF-8 BYTES (same 2^-64 collision bound as hashing the string).

    TIERED per row (round 12, measured 3.6 s -> 0.5 s for the sf0.1
    gram stage):

    - ASCII rows (byte index == char index) slice the UTF-8 byte
      buffer directly: ``substring`` on BinaryType is a flat O(L) byte
      copy — no codepoint walk, no per-char UTF8String allocation —
      and ``xxhash64`` runs ONCE over 40 contiguous bytes instead of
      chaining 40 per-element hashes over a sliced char array.
    - non-ASCII rows keep the char-array slice path (``split(text,
      '')`` is codepoint-aware, so slice indices agree with
      ``substring``/``length`` semantics exactly). A STRING
      ``substring`` formulation would be O(len^2) per document — the
      UTF8String substring walks codepoint boundaries from the string
      start; measured 168.7 s for ONE 1 MB document pair at 16 KB
      chunks vs 11.2 s with char slices (NOTES.md "ExactSubstr whale
      document").

    The two tiers emit IDENTICAL keys for identical gram text —
    ``xxhash64(string)`` hashes the string's UTF-8 bytes, which is
    byte-for-byte what the ASCII tier's binary slice holds (a gram
    containing a non-ASCII char can only occur in non-ASCII rows, so
    cross-tier collisions of distinct grams stay at the 2^-64 bound) —
    so a duplicate shared between an ASCII and a non-ASCII document
    still meets on its gram key (pinned by
    test_mixed_ascii_nonascii_grams_share_keys).

    Caller must pre-filter ``length >= min_len``: Spark's
    ``sequence(1, n)`` generates a DESCENDING range when n < 1 instead
    of an empty one, which would fabricate short trailing grams."""
    n_starts = f"length({seg_col}) - {min_len - 1}"
    if hashed:
        fast = f"xxhash64(substring(__bin, i, {min_len}))"
        slow = f"xxhash64(array_join(slice(__chars, i, {min_len}), ''))"
    else:
        fast = f"decode(substring(__bin, i, {min_len}), 'UTF-8')"
        slow = f"array_join(slice(__chars, i, {min_len}), '')"
    return F.when(
        F.col("__ascii"),
        F.expr(f"transform(sequence(1, {n_starts}), i -> {fast})"),
    ).otherwise(
        F.expr(f"transform(sequence(1, {n_starts}), i -> {slow})")
    )


def exact_substr_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 40,
    hash_grams: bool = True,
    max_gram_freq: int | None = None,
) -> DataFrame:
    """Document pairs sharing >= 1 exact common substring of length
    ``min_len`` — (doc_a, doc_b, n_shared) with doc_a < doc_b, where
    ``n_shared`` is the number of DISTINCT length-``min_len`` grams the
    two documents have in common (a pair shares a substring of length
    >= min_len iff n_shared >= 1; longer shared runs contribute
    proportionally more grams, so n_shared is also a usable severity
    rank).

    ``hash_grams`` (default) replaces each L-char gram with its
    ``xxhash64`` before the shuffle — 8-byte join keys instead of
    L-char strings; distinctness is preserved up to 64-bit collisions
    (same bound and precedent as ``ngram_jaccard_pairs``: ~m^2/2^64,
    zero observed on the test corpora).

    ``max_gram_freq`` drops grams occurring in more than that many
    documents from the join (the boilerplate-flood lever — the join
    cost is sum(c^2) over per-gram doc counts). With a cap, a pair
    whose only shared text is ubiquitous boilerplate is not reported;
    n_shared for surviving pairs counts capped grams out. None
    (default) is exact. For flood-heavy corpora prefer
    :func:`duplicated_spans`, which is flood-linear with no cap.
    """
    from .spread import spread_for_udf

    grams = (
        _tiered_seg_cols(
            spread_for_udf(df, id_col, derived="keep")
            .filter(F.length(text_col) >= min_len)
            .select(F.col(id_col), F.col(text_col).alias("__seg"))
        )
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(
                    _tiered_gram_array("__seg", min_len, hash_grams)
                )
            ).alias("gram"),
        )
    )
    if max_gram_freq is not None:
        # anti-join against the OVER-cap grams, not inner-join against
        # the under-cap keep set: the keep set is ~every distinct gram
        # (never broadcastable — the old shape always paid a full
        # shuffle join over the gram table), while the hot set is at
        # most total_occurrences/cap and in practice the boilerplate
        # tail, so AQE converts this to a broadcast anti-join at
        # runtime and the gram table never reshuffles for the cap.
        hot = (
            grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_gram_freq)
            .select("gram")
        )
        grams = grams.join(hot, "gram", "left_anti")
    a, b = grams.alias("a"), grams.alias("b")
    return (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 40,
    hash_grams: bool = True,
    chunk_chars: int = 262_144,
) -> DataFrame:
    """Maximal per-document character spans of duplicated text — the
    ExactSubstr deliverable: (id, span_start, span_len), 1-based, where
    every position in the span lies inside some length-``min_len``
    substring that also occurs in ANOTHER document. Cutting these spans
    from every document removes all cross-document duplication of
    length >= min_len PRESENT IN THE INPUT (each duplicated run of
    length m >= min_len is covered end-to-end by its m - min_len + 1
    grams, all of which are shared, so the merged span contains it);
    the splice at a cut point can mint NEW junction grams — see
    :func:`cut_duplicated_spans` for the precise statement.

    Scale shape (the reason this is the 100 TB tier): "gram occurs in
    >= 2 distinct documents" is a per-gram aggregate —
    min(doc) != max(doc) — so there is NO pair join anywhere; a
    boilerplate gram in 10^6 documents costs 10^6 aggregation rows, not
    10^12 join rows. Two shuffles total: by gram hash (the duplicate
    test), by document (interval merge).

    Whale-document note (round 9): gram generation is CHUNKED — the
    text is sliced into overlapping segments of ``chunk_chars`` gram
    starts (overlap ``min_len - 1``, offsets rebased, so the gram
    stream is bit-identical to the unchunked form: pinned by
    test_chunked_gram_stream_is_bit_identical) before the per-segment
    char array materializes. Without this, one 32 MB document
    materializes a single ~32M-element array in one task (multi-GB row
    — an OOM ceiling unrelated to the window sort). With chunking plus
    byte/char-slice grams (see :func:`_tiered_gram_array`) the whale
    cost is the
    interval-merge window's per-doc sort, which is sort-bound and
    spill-safe like sessionize — measured: a fully-duplicated 32 MB
    document pair completes exactly on an 8 GB heap (549s, worst task
    spills 5.75 GB); the 3 GB/32-thread edge is ~8 MB (93 MB/task fair
    share). Full table: NOTES.md "ExactSubstr whale document" and
    "ExactSubstr whale guard — 32 MB datapoint".

    Fair-share guard (round 10, VERDICT r9 item 4): when the session's
    per-task fair share (unified pool / task slots) sits BELOW the
    measured ~250 MB edge, the operator pins its own shuffles — the
    gram agg/join and the per-doc interval window — to
    ``pool // 250 MB`` partitions, capping stage concurrency so each
    running task regains the share the pipeline needs (the "8-thread
    escape", applied automatically), and warns loudly. Above the edge
    the plan is untouched. Trades parallelism for completion on
    undersized heaps instead of an opaque JVM OOM.
    """
    import warnings

    if chunk_chars < 1:
        raise ValueError(f"chunk_chars must be >= 1, got {chunk_chars}")
    pool, slots = _session_pool_and_slots(df.sparkSession)
    n_safe = _whale_safe_partitions(pool, slots)
    if n_safe is not None:
        warnings.warn(
            f"duplicated_spans: per-task fair share "
            f"{pool / slots / 2**20:.0f} MB (pool "
            f"{pool / 2**30:.2f} GB / {slots} slots) is below the "
            f"measured ~250 MB spill-safety edge; pinning the gram and "
            f"interval-merge shuffles to {n_safe} partitions to cap "
            f"stage concurrency (whale-document protection — see "
            f"NOTES.md 'ExactSubstr whale document'). Raise executor "
            f"memory or lower task slots to restore full parallelism.",
            stacklevel=2,
        )
    # chunk k (0-based) covers gram starts [k*step + 1, (k+1)*step],
    # clamped to n_starts = length - min_len + 1; the segment carries
    # min_len - 1 chars of lookahead so every start's full gram is local
    step = chunk_chars
    seg_len = step + min_len - 1
    # spread the gram-generation stage: a one-file corpus otherwise
    # runs the whole explode+hash pass in ONE scan task (measured 1.1 s
    # serialized of the 2.6 s query at sf0.1); derived frames (the cut
    # path's checkpointed passes) keep their upstream partitioning —
    # adding a corpus shuffle there would be a new at-scale cost
    from .spread import spread_for_udf

    segs = (
        spread_for_udf(df, id_col, derived="keep")
        .filter(F.length(text_col) >= min_len)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform("
                    f"  sequence(0, CAST(floor((length({text_col}) - {min_len})"
                    f"                   / {step}) AS INT)),"
                    f"  k -> struct("
                    f"    CAST(k AS BIGINT) * {step} AS bias,"
                    f"    substring({text_col}, k * {step} + 1, {seg_len})"
                    f"      AS seg))"
                )
            ).alias("__c"),
        )
        .select(id_col, F.col("__c.bias").alias("__bias"),
                F.col("__c.seg").alias("__seg"))
    )
    offs = (
        _tiered_seg_cols(segs).select(
            F.col(id_col),
            F.col("__bias"),
            F.posexplode(
                _tiered_gram_array("__seg", min_len, hash_grams)
            ).alias("pos0", "gram"),
        )
        .select(
            id_col,
            (F.col("__bias") + F.col("pos0") + 1).alias("off"),
            F.col("gram"),
        )
    )
    if n_safe is not None:
        # pin the gram shuffle: the window below reuses this hash
        # partitioning, so the whole sort pipeline runs at n_safe
        # concurrent tasks (fair share back above the edge)
        offs = offs.repartition(n_safe, "gram")
    # Grams present in >= 2 distinct documents, decided IN PLACE by a
    # whole-partition window over the one gram shuffle (round 12: the
    # former groupBy(min,max) + SMJ-back shape planned the ENTIRE gram
    # generation twice — Spark 4.1 reused neither exchange because the
    # agg side pruned `off` below its exchange — so the corpus-sized
    # xxhash gram pass executed 2x and the plan carried 3 exchanges.
    # The window computes the same min/max per gram on the same sorted
    # run the SMJ needed anyway: one gram pass, 2 exchanges total, and
    # the sort spills both ways like the SMJ did, so the whale-document
    # ledger is unchanged; the broadcast/shuffled-hash OOM hazards the
    # old comment documented are gone with the join itself).
    w_gram = Window.partitionBy("gram")
    covered = (
        offs.withColumn("__lo", F.min(id_col).over(w_gram))
        .withColumn("__hi", F.max(id_col).over(w_gram))
        .filter(F.col("__lo") != F.col("__hi"))
        .select(id_col, "off")
    )
    if n_safe is not None:
        # pin the interval-merge shuffle the same way (the window's
        # per-doc sort is the other half of the measured OOM pipeline)
        covered = covered.repartition(n_safe, id_col)
    # gaps-and-islands merge of [off, off + min_len - 1] intervals:
    # a new island starts where this gram's span no longer touches the
    # running max end of all previous spans (adjacency merges — coverage
    # is contiguous when end + 1 == next off).
    w = Window.partitionBy(id_col).orderBy("off")
    run_end = F.max(F.col("off") + (min_len - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = covered.withColumn(
        "__new",
        F.when(run_end.isNull() | (F.col("off") > run_end + 1), 1).otherwise(0),
    ).withColumn("__island", F.sum("__new").over(w))
    return (
        islands.groupBy(id_col, "__island")
        .agg(
            F.min("off").alias("span_start"),
            (F.max("off") + (min_len - 1) - F.min("off") + 1).alias("span_len"),
        )
        .select(id_col, "span_start", "span_len")
    )


def cut_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 40,
    hash_grams: bool = True,
    out_col: str | None = None,
    passes: int = 1,
    inrow_max_chars: int = 65_536,
    chunk_chars: int = 262_144,
) -> DataFrame:
    """Apply the ExactSubstr cut: every document with its duplicated
    spans (:func:`duplicated_spans`) deleted from the text — the
    operation Lee et al. 2021 actually run before training. Documents
    with no duplicated span pass through unchanged; all other columns
    are preserved; ``out_col`` (default: overwrite ``text_col``) holds
    the rebuilt text.

    The rebuild is TIERED by document length (no UDF, no Python in
    either tier):

    - docs up to ``inrow_max_chars``: a single Catalyst ``aggregate``
      over the doc's sorted span array — each step appends the kept
      segment before the span and advances the cursor past it; the
      finisher appends the tail. One extra shuffle (spans groupBy id)
      and one LEFT join back to the documents.
    - longer docs: the in-row aggregate is QUADRATIC in doc length
      (each ``substring(text, pos, ...)`` walks codepoints from the
      string start — measured 4.0/7.5/21.6s at 0.25/0.5/1 MB on a
      many-span whale doc, ~2.9x per doubling: NOTES.md "ExactSubstr
      whale document", cut cell), so the kept intervals are exploded to
      rows, equi-joined to ``chunk_chars``-sized document segments by
      (doc, chunk id), extracted with chunk-LOCAL substrings (walk
      bounded by the chunk), and reassembled with one ordered
      array_join per doc. Linear in doc length and distributed across
      chunks; costs two extra shuffles, paid only by the long-doc
      slice. Branch equivalence is pinned by
      test_cut_tiers_are_equivalent.

    Exact guarantee (one pass): every substring of length >= ``min_len``
    that occurred in more than one INPUT document is deleted from every
    document. This is the paper's property and it is test-pinned. The
    guarantee is about input OCCURRENCES, not string absence, and it
    does NOT imply a second span pass finds nothing: deleting a span
    splices the flanking characters together, and a spliced junction can
    mint a fresh length-``min_len`` gram that coincides with another
    document's content — or even re-form the very string that was cut
    (hypothesis counterexample: cutting the shared 'bbaa' out of
    'bbbaabaa' splices 'b'+'baa' back into 'bbaa'). Measured: 80
    junction-artifact spans across a 50k-doc flood corpus with 122k
    input spans — NOTES.md "ExactSubstr flood 10x", round-8 cut cell;
    the toy-corpus idempotence is a property of that corpus, not of the
    operator. ``passes > 1``
    re-runs span+cut on the output to also take those junction grams
    out; each pass is a full span computation, and pass k+1's input
    duplication is pass k's artifact count, so 2 passes is the practical
    ceiling. Lee et al. run one pass."""
    if passes < 1:
        raise ValueError(f"passes must be >= 1, got {passes}")
    out_col = out_col or text_col
    cur, cur_col = df, text_col
    for _i in range(passes):
        if _i > 0:
            # pass k's plan is referenced TWICE below (under
            # duplicated_spans and as the join's left side); without a
            # lineage cut the source scan + pass-1 cut re-execute
            # ~2^passes times. localCheckpoint materializes the pass
            # output once (executor memory+disk) and truncates lineage.
            cur = cur.localCheckpoint(eager=True)
        spans = (
            duplicated_spans(cur, cur_col, id_col, min_len, hash_grams)
            .groupBy(id_col)
            .agg(
                F.sort_array(
                    F.collect_list(F.struct("span_start", "span_len"))
                ).alias("__spans")
            )
        )
        cut = F.expr(
            f"""
            aggregate(
              __spans,
              struct(CAST(1 AS BIGINT) AS pos, CAST('' AS STRING) AS acc),
              (a, s) -> struct(
                CAST(s.span_start + s.span_len AS BIGINT) AS pos,
                concat(a.acc,
                       substring({cur_col}, CAST(a.pos AS INT),
                                 CAST(s.span_start - a.pos AS INT))) AS acc),
              a -> concat(a.acc, substring({cur_col}, CAST(a.pos AS INT),
                                           length({cur_col})))
            )
            """
        )
        joined = cur.join(spans, id_col, "left")
        keep = [c for c in cur.columns if c != cur_col or out_col != cur_col]

        is_long = F.col("__spans").isNotNull() & (
            F.length(cur_col) > inrow_max_chars
        )
        short_out = joined.filter(~is_long).select(
            *keep,
            F.when(F.col("__spans").isNull(), F.col(cur_col))
            .otherwise(cut)
            .alias(out_col),
        )

        # long tier: explode KEEP intervals (the complement of the
        # merged spans — starts are 1 and each span's end+1, exclusive
        # ends are each span's start and len+1), route each interval to
        # the chunks it overlaps, extract with chunk-local substrings,
        # reassemble in global-position order
        long_docs = joined.filter(is_long)
        step = chunk_chars
        keeps = F.expr(
            f"""
            filter(
              zip_with(
                concat(array(CAST(1 AS BIGINT)),
                       transform(__spans,
                                 s -> CAST(s.span_start + s.span_len AS BIGINT))),
                concat(transform(__spans, s -> CAST(s.span_start AS BIGINT)),
                       array(CAST(length({cur_col}) + 1 AS BIGINT))),
                (st, en) -> struct(st AS kstart, en - st AS klen)),
              k -> k.klen > 0)
            """
        )
        kp = (
            long_docs.select(F.col(id_col), F.explode(keeps).alias("__k"))
            .select(
                id_col,
                F.col("__k.kstart").alias("__kstart"),
                F.col("__k.klen").alias("__klen"),
            )
            .select(
                id_col,
                "__kstart",
                "__klen",
                F.explode(
                    F.expr(
                        f"sequence((__kstart - 1) div {step},"
                        f" (__kstart + __klen - 2) div {step})"
                    )
                ).alias("__sid"),
            )
        )
        segs = (
            long_docs.select(
                F.col(id_col),
                F.explode(
                    F.expr(
                        f"transform(sequence(0, (length({cur_col}) - 1)"
                        f" div {step}),"
                        f" k -> struct(CAST(k AS BIGINT) AS sid,"
                        f" CAST(k AS BIGINT) * {step} AS bias,"
                        f" substring({cur_col}, k * {step} + 1, {step})"
                        f" AS seg))"
                    )
                ).alias("__c"),
            )
            .select(
                id_col,
                F.col("__c.sid").alias("__sid"),
                F.col("__c.bias").alias("__bias"),
                F.col("__c.seg").alias("__seg"),
            )
        )
        part_start = F.greatest(F.col("__kstart"), F.col("__bias") + 1)
        parts = kp.join(segs, [id_col, "__sid"]).select(
            F.col(id_col),
            part_start.alias("__pstart"),
            F.expr(
                f"substring(__seg,"
                f" CAST(greatest(__kstart, __bias + 1) - __bias AS INT),"
                f" CAST(least(__kstart + __klen - 1,"
                f"            __bias + length(__seg))"
                f"      - greatest(__kstart, __bias + 1) + 1 AS INT))"
            ).alias("__part"),
        )
        rebuilt = parts.groupBy(id_col).agg(
            F.expr(
                "array_join(transform(array_sort("
                "collect_list(struct(__pstart, __part))), x -> x.__part), '')"
            ).alias("__rebuilt")
        )
        long_out = long_docs.join(rebuilt, id_col, "left").select(
            *keep,
            # a fully-covered doc has no keep intervals at all -> ''
            F.coalesce(F.col("__rebuilt"), F.lit("")).alias(out_col),
        )

        cur = short_out.unionByName(long_out)
        cur_col = out_col
    return cur
