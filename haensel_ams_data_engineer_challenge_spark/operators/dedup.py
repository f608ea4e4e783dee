"""Deduplication operators (LLM-training-data tier).

Four families, all shuffle-frugal by design:

- exact       — hash-groupBy on normalized text; one shuffle on the
                16-byte digest, map-side combinable.
- minhash+LSH — per-doc signature computed ROW-LOCALLY (array
                expressions over shingles — no explode, no shuffle),
                then one shuffle on band keys; candidate pairs come
                from band buckets. This is the 100 TB path: the only
                shuffled payload is (band_key, doc_id).
- n-gram Jaccard — exact verification: explode distinct shingles,
                self-join on shingle, count intersections. Quadratic
                in bucket size, so at scale it runs AFTER LSH
                candidate filtering (verify_pairs), never standalone.
- simhash     — 32-bit fingerprint from per-shingle md5 nibble votes;
                row-local except one groupBy(doc).

Hash portability: every hash is md5-hex (identical in Spark, DuckDB
and Python), string-min for minhash, so each op has a bit-exact SQL
oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..checkpoint import materialize
from ..functions.sqlexpr import sql_ref, sql_str
from ..functions.text import word_shingles

MINHASH_K = 12
MINHASH_BAND_SIZE = 3
#: Band buckets holding more docs than this are dropped before pairing:
#: a flooded bucket (boilerplate text hashing identically in one band)
#: is non-discriminative, and pairing it re-creates the quadratic
#: blow-up LSH exists to avoid. True near-dup pairs agree in several
#: bands, so dropping one flooded band rarely loses a pair; the cap
#: bounds worst-case pair count to B * n/cap * cap^2 = B*n*cap.
MAX_BAND_BUCKET = 32


def normalize_text(col: Column | str) -> Column:
    """Dedup normalization: lower, trim, collapse whitespace.
    DuckDB twin: regexp_replace(trim(lower(x)), '\\s+', ' ', 'g')."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup groups: (text_hash, keep_id=min id, n_copies)."""
    return (
        df.select(F.md5(normalize_text(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    band_size: int = MINHASH_BAND_SIZE,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, band_key) — one row per (doc, band); the only
    shuffled representation in the LSH pipeline.

    h_i(doc) = min over shingles s of md5(i || '|' || s) — a string
    min over hex digests is a valid permutation-min because md5 is
    uniform, and string compare is identical across engines.

    Implementation: explode shingles once, then k min-aggregates with
    map-side partial aggregation — the shingle pipeline is evaluated a
    single time per doc (a row-local array_min(transform(...)) form
    re-evaluates the tokenizer per hash because common-subexpression
    elimination does not cross lambda functions: measured 40x slower),
    and the shuffle payload is just the per-partition partial minima.
    """
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("s")
    )
    # one parsed expr per hash instead of ~6 Column calls each: the k
    # min-aggregates were the engine's single largest construction-
    # chatter site (r16 py4j counter: 528 round-trips per warm
    # dedup_minhash_lsh build; guide §5) — same expression tree
    sigs = sh.groupBy(id_col).agg(
        *[
            F.expr(f"min(md5(concat('{i}|', s))) AS h{i}")
            for i in range(k)
        ]
    )
    # The band stream is consumed twice by dedup_minhash_lsh's
    # self-join, and exchange reuse does not fire across the branches
    # (see verify_candidates) — without materialization the whole
    # tokenize + explode + k min-aggregates subtree runs once PER SIDE.
    # Checkpoint the per-doc signature row instead of the band stream:
    # it is the smallest point of the pipeline (k 32-char digests per
    # document, ~400 B/doc at k=12 — far smaller than the text), and
    # re-deriving bands from it is row-local md5 concat.  Measured at
    # sf0.1: 8.7 -> 2.2 s cold, 1.6 -> 1.5 s warm.
    sigs = materialize(sigs)
    n_bands = k // band_size
    bands = F.expr(
        "array(" + ", ".join(
            "md5(concat('{b}|', {hs}))".format(
                b=b,
                hs=", ".join(
                    f"h{i}"
                    for i in range(b * band_size, (b + 1) * band_size)
                ),
            )
            for b in range(n_bands)
        ) + ")"
    )
    return sigs.select(F.col(id_col), F.posexplode(bands).alias("band", "band_key"))


def dedup_minhash_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    band_size: int = MINHASH_BAND_SIZE,
    shingle_n: int = 3,
    max_bucket_size: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing any LSH band.

    Scale note: the band self-join degenerates only if a band bucket
    is huge (near-identical boilerplate floods one bucket), so buckets
    above ``max_bucket_size`` docs are dropped before pairing (see
    MAX_BAND_BUCKET).  Flood control is a groupBy bucket count plus a
    broadcast anti-join of the over-cap buckets, NOT count-over-window:
    a window partitioned by (band, band_key) would make the flooded
    bucket this cap exists to kill the hottest single-task sort
    partition before the filter drops it, whereas the groupBy
    partial-aggregates map-side (the hot bucket reaches the reducer as
    one row per input partition) and the over-cap set — boilerplate
    clusters only, a handful of rows — broadcasts.  Same shape as
    contamination_check's stop-gram cap.
    """
    bands = minhash_bands(df, text_col, id_col, k, band_size, shingle_n)
    if max_bucket_size is not None:
        flooded = (
            bands.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") > max_bucket_size)
            .select("band", "band_key")
        )
        bands = bands.join(F.broadcast(flooded), ["band", "band_key"], "left_anti")
        # the capped stream feeds both self-join sides; materialize it
        # once so the band derivation + flood cap run a single time
        # (the stream is (id, band, band_key) — n_bands rows/doc of
        # ~50 B, smaller than the already-checkpointed signature rows;
        # measured ~10% off the warm query at sf0.1)
        bands = materialize(bands)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard over distinct word n-gram shingles for every pair
    sharing at least one shingle; keeps pairs with jaccard >= threshold.

    Output: (id_a, id_b, jaccard). At 100 TB this runs on LSH
    candidates only (see dedup_minhash_lsh); the standalone form here
    doubles as the oracle-checked exact verifier.
    """
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("s")
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def verify_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    k: int = MINHASH_K,
    band_size: int = MINHASH_BAND_SIZE,
) -> DataFrame:
    """The composed 100 TB near-dup path: LSH candidate pairs, then
    exact Jaccard verification restricted to candidate documents only.

    Output: (id_a, id_b, jaccard) for candidates with
    jaccard >= threshold. The quadratic exact verifier runs on the
    (tiny) candidate universe, never the corpus.
    """
    pairs = dedup_minhash_lsh(df, text_col, id_col, k, band_size, shingle_n)
    # pairs feeds three plan branches (both union arms of cand_ids and
    # the final inner join).  Exchange reuse does NOT fire across the
    # branches on current Spark (0 ReusedExchange in the executed
    # plan), so without materialization the full banding subtree —
    # tokenize + explode + 12 md5-min aggregates over every doc —
    # recomputes per branch (22 Generate-explode operators, measured).
    # The pair set is small BY DESIGN (LSH band-bucket cap bounds it),
    # so one non-eager materialization is the right trade at any
    # scale: measured 3.3 -> 2.5 s warm / 10.8 -> 2.7 s cold at sf0.1.
    pairs = materialize(pairs)
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_docs = df.join(cand_ids, id_col, "left_semi")
    verified = ngram_jaccard_pairs(cand_docs, text_col, id_col, shingle_n, threshold)
    return verified.join(pairs, ["id_a", "id_b"], "inner")


def simhash32(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", shingle_n: int = 3
) -> DataFrame:
    """32-bit simhash fingerprint per document.

    For bit b (0..31): every shingle votes +1/-1 according to bit b of
    its md5 (nibble ``b // 4``, mask ``8 >> (b % 4)``); the fingerprint
    sets bit b iff the vote total is positive. Integer-only output —
    no float parity concerns. One explode + one groupBy(doc).
    """
    sh = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("s")
    ).select(F.col(id_col), F.md5("s").alias("h"))
    # project the 8 hex nibbles to ints ONCE, then 32 cheap bit-mask
    # aggregates — the conv() parse per bit (4x redundant) dominated
    # the runtime otherwise.
    nibbles = sh.select(
        F.col(id_col),
        *[
            F.conv(F.substring("h", i + 1, 1), 16, 10).cast("int").alias(f"n{i}")
            for i in range(8)
        ],
    )
    votes = []
    for b in range(32):
        mask = 8 >> (b % 4)
        bit_set = (F.col(f"n{b // 4}").bitwiseAND(F.lit(mask)) > 0).cast("int")
        votes.append(F.sum(bit_set * 2 - 1).alias(f"v{b}"))
    voted = nibbles.groupBy(id_col).agg(*votes)
    fp = None
    for b in range(32):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
        fp = term if fp is None else (fp + term)
    return voted.select(F.col(id_col), fp.alias("simhash"))


#: substring-dedup defaults: 32-char verbatim runs, 1/16 anchor
#: sampling ('0' hex prefix), 64-doc anchor flood cap, 4096-char text
#: chunks (bounds per-task transient memory; see substring_dup_pairs).
SUBSTRING_GRAM = 32
ANCHOR_PREFIX = "0"
MAX_ANCHOR_DOCS = 64
SUBSTRING_CHUNK = 4096


def substring_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = SUBSTRING_GRAM,
    anchor_prefix: str = ANCHOR_PREFIX,
    max_anchor_docs: int = MAX_ANCHOR_DOCS,
    chunk: int = SUBSTRING_CHUNK,
) -> DataFrame:
    """Exact-substring near-dup candidates: pairs of documents sharing
    verbatim character runs (the signal behind suffix-array substring
    dedup, Lee et al. 2021 "Deduplicating Training Data Makes Language
    Models Better" — here approximated Spark-first instead of building
    a distributed suffix array).

    Mechanism: every ``gram``-char substring whose md5 starts with
    ``anchor_prefix`` is an ANCHOR — content-defined sampling, so the
    same verbatim run yields the same anchors in every document
    regardless of position or partitioning (one hex char = keep ~1/16
    of grams).  Docs sharing an anchor share, with high probability, a
    verbatim run of >= gram chars; ``n_shared`` counts shared anchors
    (~ shared verbatim volume / 16).  Anchors present in more than
    ``max_anchor_docs`` documents are corpus boilerplate and are
    dropped by the standard windowless flood cap (groupBy count +
    broadcast anti-join — DESIGN.md's named shape) before pairing, so
    a ubiquitous license header cannot go quadratic.

    SPAN columns (round-5 verdict #4): each anchor carries its FIRST
    occurrence offset in the doc (1-based char position, min over
    occurrences — ``locate`` semantics), and the pair aggregate emits
    the matched region per side: ``a_span_start``/``a_span_end`` =
    [min offset, max offset + gram - 1] over the shared anchors in doc
    A (inclusive char positions), likewise ``b_span_*`` — enough for a
    caller to cut the duplicated range out of either document, the
    remove-the-span action Lee et al. take.

    Memory shape: the text is processed in ``chunk``-char pieces
    (overlapping by gram-1 so no gram is lost at a boundary), each
    chunk a separate row after the first explode — so no task ever
    materializes the full per-doc gram array (32x the text) or even a
    full-doc position array; transient per-row state is one chunk copy
    plus a <=chunk-length int sequence filtered to ~1/16 anchor
    positions before the gram strings are built.  A multi-MB document
    costs ~chunk bytes of working state per row, not 32x its size
    (round-5 advice).

    Output: (id_a, id_b, n_shared, a_span_start, a_span_end,
    b_span_start, b_span_end), id_a < id_b.  Scale: the anchor stream
    is ~len/16 rows per doc; one map-side-combinable groupBy(doc,
    anchor) for first-occurrence offsets (its exchange carries the
    same ~len/16-row payload the pairing join must shuffle anyway),
    one map-side-combinable groupBy for the cap, one equi-join on the
    anchor bounded by max_anchor_docs per key — no all-pairs shape
    anywhere.
    """
    # chunk starts 1, 1+chunk, ... <= n_grams; docs shorter than one
    # gram produce no chunk rows at all.  Both explodes parse as ONE
    # expr string each (~100 fewer py4j round-trips per build).
    text = sql_ref(text_col)
    n_grams = f"greatest(length({text}) - {gram - 1}, 0)"
    chunks = df.select(
        F.col(id_col),
        F.explode(F.expr(
            f"transform(CASE WHEN {n_grams} > 0 THEN "
            f"sequence(1, {n_grams}, {chunk}) "
            f"ELSE CAST(array() AS ARRAY<INT>) END, "
            f"s0 -> named_struct('c0', s0, "
            f"'ct', substr({text}, s0, {chunk + gram - 1})))"
        )).alias("ch"),
    )
    # local gram starts within this chunk: 1..min(chunk, n_grams-c0+1);
    # >= 1 by construction (a chunk row exists only when c0 <= n_grams),
    # so the ascending sequence is safe.  The anchor predicate runs
    # DURING the filter — gram strings are transient, never an array.
    occ = chunks.select(
        F.col(id_col),
        F.explode(F.expr(
            f"transform(filter(sequence(1, length(ch.ct) - {gram - 1}), "
            f"i -> substring(md5(substr(ch.ct, i, {gram})), 1, "
            f"{len(anchor_prefix)}) = {sql_str(anchor_prefix)}), "
            f"i -> named_struct("
            f"'off', CAST(ch.c0 + i - 1 AS BIGINT), "
            f"'s', substr(ch.ct, i, {gram})))"
        )).alias("a"),
    ).select(F.col(id_col), F.col("a.s").alias("s"), F.col("a.off").alias("off"))
    # one row per (doc, distinct anchor), carrying the first-occurrence
    # offset; feeds the flood count and both join sides
    anchors = materialize(
        occ.groupBy(id_col, "s").agg(F.min("off").alias("off"))
    )
    flooded = (
        anchors.groupBy("s")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_anchor_docs)
        .select("s")
    )
    kept = anchors.join(F.broadcast(flooded), "s", "left_anti")
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.min("a.off").alias("a_span_start"),
            (F.max("a.off") + (gram - 1)).alias("a_span_end"),
            F.min("b.off").alias("b_span_start"),
            (F.max("b.off") + (gram - 1)).alias("b_span_end"),
        )
    )


#: incremental-dedup Bloom defaults: 2^17 bits (2,048 bitmap longs —
#: broadcast-trivial), 4 hash functions.  Size m_bits ~ 10-15 bits per
#: corpus key for ~1% fpr at k=4; the filter only PRUNES (no false
#: negatives by construction), so fpr costs extra exact-verify work,
#: never correctness.
BLOOM_M_BITS = 1 << 17
BLOOM_K = 4


def _bloom_positions(key: Column, m_bits: int, k: int) -> Column:
    """array<long> of k Bloom bit positions for a key — md5-derived
    (`conv(substr(md5('b{i}|' || key), 1, 15), 16, 10) % m_bits`), the
    same engine-portable integer-hash discipline as KMV/hash_split."""
    return F.array(
        *[
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.lit(f"b{i}|"), key)), 1, 15), 16, 10
                ).cast("long")
                % m_bits
            )
            for i in range(k)
        ]
    )


def bloom_bitmap(
    df: DataFrame,
    key_col: str = "text_hash",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Distributed Bloom-filter build over a key column: one row per
    64-bit bitmap word, (word_idx long, bits long) — only words with
    >= 1 set bit are present (absent word == all zeros).

    The build is a map-side-combinable groupBy on word_idx (<=
    m_bits/64 groups), so the only shuffled payload is partial bitmap
    words — never the keys.  The result is broadcast-sized BY
    CONSTRUCTION (m_bits/64 longs max), which is the whole point: a
    100 TB corpus's exact hash set cannot broadcast, its Bloom summary
    can.
    """
    pos = df.select(
        F.explode(_bloom_positions(F.col(key_col), m_bits, k)).alias("pos")
    )
    return (
        pos.withColumn("word_idx", (F.col("pos") / 64).cast("long"))
        .groupBy("word_idx")
        .agg(F.expr("bit_or(shiftleft(1L, cast(pos % 64 as int)))").alias("bits"))
    )


def incremental_new_docs(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    bitmap: DataFrame | None = None,
) -> DataFrame:
    """Incremental exact dedup — the production ingestion shape: which
    docs of a NEW batch are not already in the EXISTING corpus?

    Semantics are exactly ``batch LEFT ANTI JOIN corpus`` on the
    normalized text hash (`dedup_exact`'s hash); the Bloom filter is a
    pure prefilter: batch docs whose k bloom bits are not all set are
    DEFINITELY new (no false negatives — every corpus key set its
    bits) and skip the join entirely; only maybe-dup docs (true dups +
    ~fpr false positives) reach the exact anti-join verify.

    Scale shape: the corpus is summarized ONCE into a broadcast-sized
    bitmap (`bloom_bitmap`); the batch probes it via a broadcast
    equi-join on word_idx (k rows per doc, JVM-side bit test), so the
    exact anti-join — the only corpus-sized shuffle — sees just the
    maybe-dup sliver of the batch.  With the corpus hash table stored
    bucketed by text_hash (operators/scale.py bucketed join), the
    corpus side needs no re-shuffle either.  In production the bitmap
    is persisted and OR-merged incrementally per ingested batch
    (bit_or is associative): pass it as ``bitmap`` (the
    streaming/ingest.py bloom-state path does) and the per-call
    corpus-wide bitmap build is skipped entirely — only the exact
    verify still touches the corpus, column-pruned to the hash.
    Without ``bitmap`` it is rebuilt from ``corpus`` per call.

    A caller-supplied bitmap MUST cover every corpus key (extra set
    bits are safe — they only add false positives, which the exact
    verify removes; missing bits would be false negatives and admit
    duplicates), and must have been built with the same
    ``m_bits``/``k``.

    Output: (id, text_hash) of the genuinely-new batch docs.
    """
    h = F.md5(normalize_text(text_col)).alias("text_hash")
    return incremental_new_keys(
        batch.select(F.col(id_col), h),
        corpus.select(h),
        "text_hash",
        id_col=id_col,
        m_bits=m_bits,
        k=k,
        bitmap=bitmap,
    )


def incremental_new_keys(
    batch_keyed: DataFrame,
    corpus_keyed: DataFrame,
    key_col: str,
    id_col: str = "doc_id",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    bitmap: DataFrame | None = None,
    verify_short_circuit: bool = False,
) -> DataFrame:
    """The Bloom-prefiltered incremental anti-join GENERALIZED to an
    arbitrary key column (round 14) — :func:`incremental_new_docs`
    delegates here keyed on the normalized-text hash, and the ingest
    URL tier uses it keyed on ``canonical_url`` (the documented scale
    path: the per-batch O(corpus) URL anti-join becomes a broadcast
    bitmap probe + an exact verify over the maybe-dup sliver only).
    Same contract: no false negatives by construction, a
    caller-supplied bitmap must cover every corpus key and share
    ``m_bits``/``k``.  Output: (id, key) of the genuinely-new rows.

    ``verify_short_circuit=True`` EXECUTES a batch-bounded probe
    action up front and, when NO row is a maybe-dup, returns the
    batch directly — the corpus-side verify join never enters the
    plan, so a novel-heavy steady-state batch costs O(batch) total.
    Off by default: the action at plan-build time is wrong for lazy
    callers (registry arms); the streaming URL tier opts in."""
    bloom = (
        bitmap if bitmap is not None
        else bloom_bitmap(corpus_keyed, key_col, m_bits, k)
    )
    probes = batch_keyed.select(
        F.col(id_col),
        F.explode(_bloom_positions(F.col(key_col), m_bits, k)).alias("pos"),
    ).withColumn("word_idx", (F.col("pos") / 64).cast("long"))
    hits = probes.join(F.broadcast(bloom), "word_idx", "left").select(
        F.col(id_col),
        F.coalesce(
            F.expr("(shiftright(bits, cast(pos % 64 as int)) & 1) = 1"), F.lit(False)
        ).alias("hit"),
    )
    maybe = hits.groupBy(id_col).agg(F.min("hit").alias("maybe_dup"))
    if verify_short_circuit:
        from ..checkpoint import materialize

        # one batch-bounded action; reused by every downstream branch
        maybe = materialize(maybe)
        if maybe.filter(F.col("maybe_dup")).isEmpty():
            return batch_keyed.select(id_col, key_col)
    flagged = batch_keyed.join(maybe, id_col)
    definitely_new = flagged.filter(~F.col("maybe_dup"))
    verified_new = flagged.filter(F.col("maybe_dup")).join(
        corpus_keyed, key_col, "left_anti"
    )
    return definitely_new.unionByName(verified_new).select(id_col, key_col)


#: line-level boilerplate removal defaults: a line participates only
#: when at least this long (short separators / bullets never count)...
LINE_MIN_CHARS = 10
#: ...and is removed when it occurs in at least this many DISTINCT
#: documents (2 = any cross-document repetition).
LINE_MIN_DF = 2


def remove_duplicate_lines(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = LINE_MIN_DF,
    min_chars: int = LINE_MIN_CHARS,
) -> DataFrame:
    """LINE-level cross-document dedup — the CCNet/RefinedWeb
    boilerplate-removal step: a line occurring in >= ``min_df``
    distinct documents (headers, footers, nav bars, cookie banners) is
    excised from EVERY document; document-level dedup cannot see it
    because the surrounding content differs.

    Output: (id, n_lines, n_lines_removed, chars_removed, text_cut) —
    only documents with >= 1 removed line (callers left-join; absent
    == untouched).  ``chars_removed`` is ``len(text) -
    len(text_cut)`` so newline bookkeeping cannot drift.

    Scale shape: one posexplode + a map-side-combinable distinct-doc
    count on the md5 line key trains the duplicate set (the 'the'-like
    hot boilerplate line partial-aggregates map-side); the removal is
    one equi-join on the key plus a per-doc groupBy whose state is
    that doc's own lines (bounded) — reassembly sorts row-locally by
    line position, no windows.  Lines shorter than ``min_chars`` are
    ineligible both for counting and for removal.
    """
    lines = docs.select(
        F.col(id_col).alias("__did"),
        F.length(text_col).alias("__olen"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "ln"),
    )
    dup = (
        lines.filter(F.length("ln") >= min_chars)
        .select(F.md5("ln").alias("__k"), "__did")
        .distinct()
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_df)
        .select("__k")
    )
    marked = (
        lines.withColumn("__k", F.md5("ln"))
        .join(dup.withColumn("__dup", F.lit(True)), "__k", "left")
        .withColumn(
            "__rm",
            F.col("__dup").isNotNull() & (F.length("ln") >= min_chars),
        )
    )
    return (
        marked.groupBy("__did", "__olen")
        .agg(
            # batched expr strings (round 16, guide §5) — same trees
            F.expr("CAST(count(1) AS BIGINT) AS n_lines"),
            F.expr(
                "CAST(sum(CASE WHEN __rm THEN 1 ELSE 0 END) AS BIGINT)"
                " AS n_lines_removed"
            ),
            F.expr(
                "array_join(transform(filter(array_sort(collect_list("
                "struct(pos, ln, __rm))), x -> NOT x.__rm), "
                "x -> x.ln), '\\n') AS text_cut"
            ),
        )
        .filter(F.col("n_lines_removed") > 0)
        .select(
            F.col("__did").alias(id_col),
            "n_lines",
            "n_lines_removed",
            (F.col("__olen") - F.length("text_cut"))
            .cast("long")
            .alias("chars_removed"),
            "text_cut",
        )
    )


def merge_spans(
    spans: DataFrame,
    id_col: str = "doc_id",
    start_col: str = "span_start",
    end_col: str = "span_end",
) -> DataFrame:
    """Merge overlapping [start, end] char ranges per document into
    disjoint islands: (id, span_start, span_end), 1-based inclusive.

    Classic interval-island windows: sort spans per doc, a span starts
    a new island iff its start exceeds the running max end of every
    earlier span; the island id is the running count of such starts.
    Two windows over the SAME (id, start, end) sort order plus one
    map-side-combinable groupBy — a single exchange on the id, and the
    per-doc partition holds only that doc's spans (pair counts, never
    corpus-sized), so no skew shape.

    Spans are DEDUPED first: identical ranges are one cut, and with
    duplicates removed (id, start, end) is a total order per doc, so
    the two window passes cannot disagree on tie placement (two
    identical rows otherwise sort arbitrarily per pass and can split
    one island into two).
    """
    from pyspark.sql import Window

    spans = spans.select(id_col, start_col, end_col).dropDuplicates(
        [id_col, start_col, end_col]
    )
    w = Window.partitionBy(id_col).orderBy(start_col, end_col)
    prev_max = F.max(end_col).over(w.rowsBetween(Window.unboundedPreceding, -1))
    new_island = F.when(
        prev_max.isNull() | (F.col(start_col) > prev_max), F.lit(1)
    ).otherwise(F.lit(0))
    islanded = spans.select(
        F.col(id_col),
        F.col(start_col),
        F.col(end_col),
        F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "__island"
        ),
    )
    return islanded.groupBy(id_col, "__island").agg(
        F.min(start_col).alias(start_col), F.max(end_col).alias(end_col)
    ).drop("__island")


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    start_col: str = "span_start",
    end_col: str = "span_end",
) -> DataFrame:
    """Remove character ranges from documents — the REMOVE action of
    substring dedup (Lee et al. 2021 delete the duplicated spans, not
    the documents; `substring_dup_pairs` finds the spans, this op cuts
    them).

    ``spans`` rows are (id, start, end) 1-based inclusive char ranges,
    possibly overlapping/nested (a doc dup-paired with several others
    yields one span per pair); they are clamped to the doc, merged
    into disjoint islands (`merge_spans`), and excised.  Only docs
    with >= 1 span are returned.

    Output: (id, text_cut, n_islands, chars_removed) where
    ``text_cut`` is the residual text with islands removed,
    ``n_islands`` counts the disjoint merged ranges (as `merge_spans`
    would produce), and ``chars_removed`` == original length -
    length(text_cut).

    Scale shape: ONE map-side-combinable groupBy(id) collects each
    doc's deduped spans into a sorted array — bounded by that doc's
    pair count, never corpus-wide — then one equi-join against the
    corpus brings the text in, and everything else is a row-local
    F.aggregate fold over the sorted array.  The fold itself does the
    overlap merging (acc.pos advances via greatest, so a span starting
    before the cursor extends the current island instead of opening a
    gap), which keeps the whole operator WINDOWLESS — the dedup-family
    plan pin (tests/test_plans.py) applies to the registered
    composition.  No explode of text, no Python.
    """
    spans = spans.select(id_col, start_col, end_col).dropDuplicates(
        [id_col, start_col, end_col]
    )
    ivs_per_doc = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(start_col).alias("s"), F.col(end_col).alias("e")))
        ).alias("__ivs")
    )
    joined = df.join(ivs_per_doc, id_col, "inner")
    t = F.col(text_col)
    # clamp each span to [1, len]; spans fully outside vanish
    # (everything long so the fold accumulator type is stable; clamping
    # s by a monotone greatest preserves the sort order).
    # fold: acc.txt accumulates the kept gaps, acc.pos is the next
    # uncut char, acc.n counts disjoint islands.  Sorted by (s, e), a
    # span with s >= pos opens a new island (emits the gap before it);
    # one with s < pos overlaps or is contained (gap length clamps to
    # 0, pos only ever advances).
    # The clamp + fold parse as ONE expr string.
    text = sql_ref(text_col)
    ivs = (
        "filter(transform(__ivs, iv -> named_struct("
        "'s', greatest(CAST(iv.s AS BIGINT), CAST(1 AS BIGINT)), "
        f"'e', least(CAST(iv.e AS BIGINT), "
        f"CAST(length({text}) AS BIGINT)))), "
        "iv -> iv.s <= iv.e)"
    )
    folded = F.expr(
        f"aggregate({ivs}, "
        "named_struct('txt', '', 'pos', CAST(1 AS BIGINT), "
        "'n', CAST(0 AS BIGINT)), "
        "(acc, iv) -> named_struct("
        f"'txt', concat(acc.txt, substr({text}, acc.pos, "
        "greatest(iv.s - acc.pos, 0))), "
        "'pos', greatest(acc.pos, iv.e + 1), "
        "'n', acc.n + CAST(iv.s >= acc.pos AS BIGINT)), "
        "acc -> named_struct("
        f"'txt', concat(acc.txt, substr({text}, acc.pos, "
        f"greatest(length({text}) - acc.pos + 1, 0))), "
        "'n', acc.n))"
    )
    return joined.withColumn("__folded", folded).select(
        F.col(id_col),
        F.col("__folded.txt").alias("text_cut"),
        F.col("__folded.n").alias("n_islands"),
        (F.length(t) - F.length(F.col("__folded.txt"))).cast("long").alias("chars_removed"),
    )


def cut_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gram: int = SUBSTRING_GRAM,
    anchor_prefix: str = ANCHOR_PREFIX,
    max_anchor_docs: int = MAX_ANCHOR_DOCS,
    chunk: int = SUBSTRING_CHUNK,
) -> DataFrame:
    """The composed substring-dedup pipeline: detect verbatim-run
    pairs (`substring_dup_pairs`), keep the FIRST document of each
    pair intact (id_a < id_b — same keep-min policy as `dedup_exact`),
    and cut the matched span out of the LATER side (id_b).

    Returns `cut_spans` output for every doc that appears as id_b.
    The pair set is materialized once (it feeds the span projection
    and is small by construction — anchor flood cap bounds it).
    """
    pairs = materialize(
        substring_dup_pairs(
            df, text_col, id_col, gram, anchor_prefix, max_anchor_docs, chunk
        )
    )
    spans = pairs.select(
        F.col("id_b").alias(id_col),
        F.col("b_span_start").alias("span_start"),
        F.col("b_span_end").alias("span_end"),
    )
    return cut_spans(df, spans, id_col, text_col)


def dup_shingle_fraction(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Inter-document duplication signal: the fraction of a doc's
    DISTINCT word n-gram shingles that occur in at least one OTHER
    document (RefinedWeb-style boilerplate share — headers, footers,
    templates score high long before full-document dedup fires).

    Scale shape: one explode -> one map-side-combinable shingle
    document-frequency count -> one equi-join back on the shingle ->
    one per-doc count — the lm.py shape on the shingle key.  Docs
    with no shingles (< n tokens) are absent; callers left-join.

    The token array is staged through a projection before the shingle
    transform (the vocab.py lambda lesson: an inline tokenizer inside
    the higher-order lambda re-splits the text per element).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    staged = df.select(F.col(id_col), toks.alias("__t"))
    t = F.col("__t")
    grams = F.array_distinct(
        F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    ex = staged.select(F.col(id_col), F.explode(grams).alias("__s"))
    dfreq = ex.groupBy("__s").agg(
        (F.count(F.lit(1)) >= 2).alias("__dup")
    )
    return (
        ex.join(dfreq, "__s")
        .groupBy(id_col)
        .agg(
            (
                F.sum(F.col("__dup").cast("long")).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("dup_shingle_frac")
        )
    )
