"""P2 chunk packing (reference journey_builder.chunk_journeys:183-239).

The reference packs journeys into chunks of <= 100 journeys AND <= 200
sessions, never splitting a journey across chunks, by a sequential
greedy loop. Two engine forms:

- ``pack_cumsum`` — deterministic CLOSED FORM: running journey/session
  counts over a total order, provisional chunk id =
  greatest(cum_journeys div J, cum_sessions div S), then a second
  window pass re-splits any provisional chunk holding more than J
  journeys (a single oversized journey can inflate the session cumsum
  and pull extra journeys into one provisional chunk — counterexample
  J=2, S=10, sizes [20,1,1,1]).  After the split pass the journey cap
  is strict: <= J journeys per chunk; sessions are bounded by
  < S + max journey size (an oversized journey still gets its own
  chunk, like the reference).  Both passes share one
  partition+order, so the whole op is a single shuffle.

- ``pack_greedy`` — EXACT reference semantics (close the chunk when
  adding the next journey would exceed either cap) via a plain Python
  greedy inside ``applyInPandas`` groups; verified in
  tests/test_extensions.py (test_pack_greedy_matches_reference_semantics,
  test_pack_caps_hold) against an independent in-memory implementation.

Scale design: both forms take ``partition_by`` — at 100 TB you pack
WITHIN a date/tenant partition (chunks model API requests, and an API
request packer is naturally partition-scoped), so no global
single-partition window appears in the registered plan.  The
registered entries pack within ``conv_date``.
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..attribution import model as M
from ..functions.sqlexpr import sql_ref, sql_str

MAX_JOURNEYS = 100
MAX_SESSIONS = 200


def journey_sizes(
    journeys: DataFrame, partition_by: Sequence[str] = ()
) -> DataFrame:
    """One row per journey: (partition cols..., conv_id, n_sessions)."""
    return journeys.groupBy(*partition_by, "conv_id").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


def pack_cumsum(
    sizes: DataFrame,
    max_journeys: int = MAX_JOURNEYS,
    max_sessions: int = MAX_SESSIONS,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Closed-form chunk assignment over (conv_id, n_sessions), packed
    within ``partition_by`` (chunk_id restarts per partition)."""
    order = F.col("conv_id").cast("long")
    w_all = (
        Window.partitionBy(*partition_by).orderBy(order)
        if partition_by
        else Window.orderBy(order)
    )
    w_prev = w_all.rowsBetween(Window.unboundedPreceding, -1)
    provisional = (
        sizes.withColumn("__idx", F.row_number().over(w_all) - 1)
        .withColumn(
            "__cum_prev", F.coalesce(F.sum("n_sessions").over(w_prev), F.lit(0))
        )
        .withColumn(
            "__prov",
            F.greatest(
                F.expr(f"__idx div {max_journeys}"),
                F.expr(f"__cum_prev div {max_sessions}"),
            ),
        )
    )
    # strict-journey-cap pass: within a provisional chunk, every block
    # of max_journeys rows becomes its own chunk; dense_rank over
    # (provisional, block) renumbers contiguously. Measured plan
    # (tests/test_plans.py::test_pack_cumsum_single_exchange): ONE
    # exchange — hashpartitioning(partition_by) satisfies the
    # (partition_by, __prov) windows' clustering too — plus three
    # extra LOCAL sorts for the changed sort keys (no extra shuffle;
    # the sorts are per-partition and spill-bounded).
    w_chunk = (
        Window.partitionBy(*partition_by, "__prov").orderBy(order)
        if partition_by
        else Window.partitionBy("__prov").orderBy(order)
    )
    w_rank = (
        Window.partitionBy(*partition_by).orderBy("__prov", "__sub")
        if partition_by
        else Window.orderBy("__prov", "__sub")
    )
    return (
        provisional.withColumn("__sub", F.row_number().over(w_chunk) - 1)
        .withColumn("__sub", F.expr(f"__sub div {max_journeys}"))
        .withColumn("chunk_id", F.dense_rank().over(w_rank) - 1)
        .select(*partition_by, "conv_id", "n_sessions", "chunk_id")
    )


def pack_cumsum_sql(
    max_journeys: int = MAX_JOURNEYS,
    max_sessions: int = MAX_SESSIONS,
    partition_by: Sequence[str] = (),
) -> str:
    """DuckDB twin of ``pack_cumsum`` over a ``jsz`` CTE with columns
    (partition cols..., conv_id, n_sessions)."""
    part = ", ".join(partition_by)
    p_clause = f"PARTITION BY {part} " if partition_by else ""
    p_cols = f"{part}, " if partition_by else ""
    return f"""
    ordered AS (
        SELECT {p_cols}conv_id, n_sessions,
               ROW_NUMBER() OVER ({p_clause}ORDER BY CAST(conv_id AS BIGINT)) - 1 AS idx,
               CAST(COALESCE(SUM(n_sessions) OVER (
                   {p_clause}ORDER BY CAST(conv_id AS BIGINT)
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS cum_prev
        FROM jsz),
    provisional AS (
        SELECT *, greatest(idx // {max_journeys}, cum_prev // {max_sessions}) AS prov
        FROM ordered),
    split AS (
        SELECT *,
               (ROW_NUMBER() OVER (PARTITION BY {p_cols}prov
                                   ORDER BY CAST(conv_id AS BIGINT)) - 1)
               // {max_journeys} AS sub
        FROM provisional)
    SELECT {p_cols}conv_id, n_sessions,
           DENSE_RANK() OVER ({p_clause}ORDER BY prov, sub) - 1 AS chunk_id
    FROM split"""


def pack_groups_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form: pack within conv_date partitions (the shape an
    API-request packer wants, and no global single-partition window)."""
    j = M.journeys(spark, sf_dir).withColumn(
        "conv_date", F.date_format("conv_ts", "yyyy-MM-dd")
    )
    return pack_cumsum(
        journey_sizes(j, ["conv_date"]), partition_by=["conv_date"]
    )


PACK_CUMSUM_SQL = (
    M.ORACLE_PRELUDE.rstrip()
    + ","
    + M.JOURNEYS_CTE.strip()
    + """,
    jsz AS (SELECT strftime(conv_ts, '%Y-%m-%d') AS conv_date,
                   conv_id, COUNT(*) AS n_sessions
            FROM journeys GROUP BY 1, 2),"""
    + pack_cumsum_sql(partition_by=["conv_date"])
)


#: DuckDB twin of ``pack_groups_greedy``: the sequential greedy fold
#: (reference journey_builder.py:219-232) expressed as a recursive CTE
#: that walks each conv_date partition in CAST(conv_id AS BIGINT)
#: order, threading the (chunk_id, nj, ns) state row-to-row — exactly
#: the loop in ``greedy_pack``. Recursion depth = max journeys per
#: conv_date (fine at oracle scale; the engine form stays the scalable
#: one).
_GREEDY_STEP = (
    f"w.nj + 1 > {MAX_JOURNEYS} OR w.ns + o.n_sessions > {MAX_SESSIONS}"
)
PACK_GREEDY_SQL = (
    M.ORACLE_PRELUDE.replace("WITH ", "WITH RECURSIVE ", 1).rstrip()
    + ","
    + M.JOURNEYS_CTE.strip()
    + f""",
    jsz AS (SELECT strftime(conv_ts, '%Y-%m-%d') AS conv_date,
                   conv_id, COUNT(*) AS n_sessions
            FROM journeys GROUP BY 1, 2),
    ordered AS (
        SELECT conv_date, conv_id, n_sessions,
               ROW_NUMBER() OVER (PARTITION BY conv_date
                                  ORDER BY CAST(conv_id AS BIGINT)) AS idx
        FROM jsz),
    walk AS (
        SELECT conv_date, conv_id, n_sessions, idx,
               CAST(0 AS BIGINT) AS chunk_id, 1 AS nj, n_sessions AS ns
        FROM ordered WHERE idx = 1
        UNION ALL
        SELECT o.conv_date, o.conv_id, o.n_sessions, o.idx,
               CASE WHEN {_GREEDY_STEP} THEN w.chunk_id + 1 ELSE w.chunk_id END,
               CASE WHEN {_GREEDY_STEP} THEN 1 ELSE w.nj + 1 END,
               CASE WHEN {_GREEDY_STEP} THEN o.n_sessions ELSE w.ns + o.n_sessions END
        FROM walk w
        JOIN ordered o ON o.conv_date = w.conv_date AND o.idx = w.idx + 1)
    SELECT conv_date, conv_id, n_sessions, chunk_id FROM walk"""
)


def greedy_pack(sizes: list[tuple[str, int]],
                max_journeys: int = MAX_JOURNEYS,
                max_sessions: int = MAX_SESSIONS) -> list[tuple[str, int, int]]:
    """Reference greedy (journey_builder.py:219-232): close the current
    chunk when adding the next journey would exceed either cap."""
    out, chunk, nj, ns = [], 0, 0, 0
    for conv_id, n in sizes:
        if nj > 0 and (nj + 1 > max_journeys or ns + n > max_sessions):
            chunk, nj, ns = chunk + 1, 0, 0
        out.append((conv_id, n, chunk))
        nj, ns = nj + 1, ns + n
    return out


def pack_greedy(
    sizes: DataFrame,
    max_journeys: int = MAX_JOURNEYS,
    max_sessions: int = MAX_SESSIONS,
    partition_by: Sequence[str] = (),
) -> DataFrame:
    """Exact greedy packing via ``applyInPandas`` per partition group.

    Sequential by nature (each decision depends on all prior ones)
    WITHIN a partition; distinct partitions pack in parallel. The
    input is one row per *journey* (already aggregated), orders of
    magnitude smaller than the session data, and partition groups
    (date/tenant) bound each sequential task.  With no
    ``partition_by`` the whole list flows through one task — only
    acceptable for small inputs.
    """
    part_cols = list(partition_by)
    # output schema derives from the input (a date/int partition column
    # must round-trip typed, not be coerced to string)
    dt = dict(sizes.dtypes)
    out_schema = ", ".join(
        [f"{c} {dt[c]}" for c in part_cols]
        + [f"conv_id {dt['conv_id']}", f"n_sessions {dt['n_sessions']}",
           "chunk_id long"]
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__ord").reset_index(drop=True)
        packed = greedy_pack(
            list(zip(pdf["conv_id"], pdf["n_sessions"])), max_journeys, max_sessions
        )
        out = pd.DataFrame(packed, columns=["conv_id", "n_sessions", "chunk_id"])
        for c in part_cols:
            out.insert(0, c, pdf[c].iloc[0])
        return out

    keyed = sizes.withColumn("__ord", F.col("conv_id").cast("long"))
    if not part_cols:
        keyed = keyed.withColumn("__g", F.lit(0))
    return keyed.groupBy(*(part_cols or ["__g"])).applyInPandas(_pack, out_schema)


def pack_groups_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form: exact greedy within conv_date partitions."""
    j = M.journeys(spark, sf_dir).withColumn(
        "conv_date", F.date_format("conv_ts", "yyyy-MM-dd")
    )
    return pack_greedy(
        journey_sizes(j, ["conv_date"]), partition_by=["conv_date"]
    )


def pack_groups_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both packing forms in ONE registry slot, tagged by ``method``
    (round-5 registry rotation: the 50-key correctness window is full,
    so the two P2 entries consolidate into a union — each form still
    hash-checks against its own oracle branch).  The journey-size
    aggregate is built once and shared by both forms."""
    j = M.journeys(spark, sf_dir).withColumn(
        "conv_date", F.date_format("conv_ts", "yyyy-MM-dd")
    )
    sizes = journey_sizes(j, ["conv_date"])
    a = pack_cumsum(sizes, partition_by=["conv_date"]).withColumn(
        "method", F.lit("cumsum")
    )
    b = pack_greedy(sizes, partition_by=["conv_date"]).withColumn(
        "method", F.lit("greedy")
    )
    return a.unionByName(b)


#: DuckDB twin of ``pack_groups_both``: each form's full query as a
#: tagged subquery arm (DuckDB allows WITH / WITH RECURSIVE inside a
#: derived table).
PACK_BOTH_SQL = (
    "SELECT 'cumsum' AS method, * FROM (\n" + PACK_CUMSUM_SQL + "\n)\n"
    "UNION ALL\n"
    "SELECT 'greedy' AS method, * FROM (\n" + PACK_GREEDY_SQL + "\n)"
)


def chunk_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Fixed-length TRAINING-SEQUENCE chunking: slide a ``seq_len``-token
    window with ``overlap`` tokens of left context over each document's
    BPE-ish token stream (functions/text.BPE_ISH_PATTERN) — the step
    between a cleaned corpus and a trainer, which consumes
    fixed-length sequences, not documents.

    Window starts are 1, 1+step, ... <= max(n_tokens - overlap, 1)
    with step = seq_len - overlap, so every chunk after the first
    carries ``overlap`` tokens of context and at least one new token;
    the last chunk may be short (standard practice keeps it).  Docs
    with zero tokens yield no rows.

    Output: (id, chunk_idx, n_tokens, chunk_text) — chunk_idx is
    derived arithmetically from the start ((s-1)/step), so no
    posexplode ordering dependency.  Entirely row-local (tokenize
    once, sequence of starts, slice + join): zero shuffles,
    embarrassingly parallel at any corpus size.

    DuckDB twin shape: regexp_extract_all + range(1, bound+1, step) +
    list slice toks[s : s+seq_len-1] + array_to_string.
    """
    if not 0 <= overlap < seq_len:
        raise ValueError(f"need 0 <= overlap < seq_len, got {overlap}, {seq_len}")
    from ..functions.text import BPE_ISH_PATTERN

    step = seq_len - overlap
    # single-parse expr string; `toks` repeats textually, once per use
    toks = (
        f"regexp_extract_all({sql_ref(text_col)}, "
        f"{sql_str(BPE_ISH_PATTERN)}, 0)"
    )
    chunk_s = (
        "named_struct("
        f"'chunk_idx', CAST((s - 1) / {step} AS BIGINT), "
        f"'n_tokens', CAST(size(slice({toks}, s, {seq_len})) AS BIGINT), "
        f"'chunk_text', array_join(slice({toks}, s, {seq_len}), ' '))"
    )
    chunk = F.explode(
        F.expr(
            f"transform(CASE WHEN size({toks}) > 0 THEN "
            f"sequence(1, greatest(size({toks}) - {overlap}, 1), {step}) "
            f"ELSE CAST(array() AS ARRAY<INT>) END, s -> {chunk_s})"
        )
    )
    return df.select(F.col(id_col), chunk.alias("c")).select(
        F.col(id_col), F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.col("c.chunk_text").alias("chunk_text"),
    )


#: document separator token for cross-doc packing (the EOS marker a
#: trainer expects between documents; counted in every budget like any
#: other token).
PACK_SEP = "<|eod|>"


def pack_sequences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 64,
    sep: str = PACK_SEP,
    tokens_col: str | None = None,
) -> DataFrame:
    """CROSS-DOCUMENT sequence packing: concatenate every document's
    token stream (plus one trailing ``sep`` token each) in ``id_col``
    order and slice the global stream into consecutive
    ``seq_len``-token training sequences — the standard pretraining
    step that :func:`chunk_sequences` (within-doc windows) does not
    cover: short documents share a sequence instead of wasting pad
    tokens, and only the final sequence may be short.  (Round-6
    verdict #2 — the last step between this engine's output and a
    trainer's input.)

    Semantics: doc d with n_d tokens (incl. separator) and global
    exclusive-prefix offset s_d occupies stream positions
    [s_d, s_d + n_d); token at global position p belongs to sequence
    p div seq_len.  Zero-token documents contribute nothing (not even
    a separator).  Documents split across sequence boundaries — by
    design (GPT-style concat-then-chunk packing); a doc-atomic packer
    is :func:`pack_greedy`'s bin-packing family, not this op.

    Scale shape — NOT the single-partition greedy arm:

    1. per-doc token count: row-local projection;
    2. global offsets via ``rank.global_prefix_sum`` (range partition
       + bounded local cumsum + n_partitions-row offset window +
       broadcast) — one range shuffle, no global window;
    3. each doc emits its per-sequence slices ROW-LOCALLY (a doc
       spanning k sequences emits k pieces — ~n_tokens/seq_len + 1
       rows, each <= seq_len tokens);
    4. one groupBy(seq_id) reassembles pieces — per-group state is
       bounded by seq_len tokens, so no hot group can exist.

    Total: one range shuffle + one bounded groupBy shuffle at any
    corpus size; the result depends only on the (id_col) total order,
    bit-stable across partitionings (pytest-pinned).

    Output: (seq_id, n_tokens, n_docs, seq_text) — seq_id 0-based,
    n_docs = number of documents contributing to the sequence,
    seq_text the space-joined tokens.

    ``tokens_col``: pack an EXISTING ``array<string>`` token column
    (e.g. ``bpe_tokens`` from :func:`~...operators.bpe.bpe_segment`)
    instead of tokenizing ``text_col`` — the learned-tokenizer form of
    the trainer hand-off (CLI: ``pack --merges-json``).
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    from ..functions.text import BPE_ISH_PATTERN
    from .rank import global_prefix_sum

    toks = (
        F.col(tokens_col)
        if tokens_col is not None
        else F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
    )
    base = (
        df.select(F.col(id_col).alias("__did"), toks.alias("__t0"))
        .filter(F.size("__t0") > 0)
        .select(
            "__did", F.concat("__t0", F.array(F.lit(sep))).alias("__toks")
        )
        .withColumn("__n", F.size("__toks").cast("long"))
    )
    withstart = global_prefix_sum(base, ["__did"], "__n", out_col="__start")

    L = int(seq_len)
    # the per-doc piece emitter parses as ONE expr string (round 16,
    # guide §5 — the lambda Column calls were ~90 py4j round-trips per
    # build); pos/end repeat textually exactly as the Column tree
    # duplicated their subtrees
    pos = f"greatest(__start, s * {L})"
    end = f"least(__start + __n, (s + 1) * {L})"
    piece = (
        "named_struct("
        "'seq_id', CAST(s AS BIGINT), "
        f"'pos', CAST({pos} AS BIGINT), "
        f"'npiece', CAST({end} - {pos} AS BIGINT), "
        "'piece', array_join(slice(__toks, "
        f"CAST({pos} - __start + 1 AS INT), "
        f"CAST({end} - {pos} AS INT)), ' '))"
    )
    pieces = withstart.select(
        F.explode(
            F.expr(
                f"transform(sequence(__start div {L}, "
                f"(__start + __n - 1) div {L}), s -> {piece})"
            )
        ).alias("c")
    ).select("c.*")
    return pieces.groupBy("seq_id").agg(
        F.expr("CAST(sum(npiece) AS BIGINT) AS n_tokens"),
        F.expr("CAST(count(1) AS BIGINT) AS n_docs"),
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(pos, piece))), x -> x.piece), ' ') AS seq_text"
        ),
    )


def pack_sequences_sql(
    token_pattern: str,
    seq_len: int = 64,
    sep: str = PACK_SEP,
    pfx: str = "pk",
) -> str:
    """DuckDB twin of :func:`pack_sequences` over the ``documents``
    view: CTE chain ending in ``{pfx}_out`` (seq_id, n_tokens,
    n_docs, seq_text).  The oracle can afford the single-window prefix
    sum; list slices are 1-based inclusive (`toks[a:b]`) vs Spark's
    (start, length) — both cover [pos, end).

    NULL-ordering contract (same as rank.py): every DuckDB twin of a
    Spark ascending ORDER BY must spell ``NULLS FIRST`` — Spark sorts
    nulls first ascending, DuckDB defaults to NULLS LAST — or the
    prefix sum diverges for any caller with nullable ids."""
    L = int(seq_len)
    return f"""
        {pfx}_tok AS (
            SELECT doc_id,
                   list_append(regexp_extract_all(text, '{token_pattern}'),
                               '{sep}') AS toks
            FROM documents
            WHERE len(regexp_extract_all(text, '{token_pattern}')) > 0),
        {pfx}_sz AS (
            SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n,
                   CAST(COALESCE(SUM(len(toks)) OVER (
                       ORDER BY doc_id NULLS FIRST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS strt
            FROM {pfx}_tok),
        {pfx}_exp AS (
            SELECT doc_id, toks, n, strt,
                   unnest(range(strt // {L}, (strt + n - 1) // {L} + 1))
                       AS seq_id
            FROM {pfx}_sz),
        {pfx}_piece AS (
            SELECT seq_id,
                   GREATEST(strt, seq_id * {L}) AS pos,
                   LEAST(strt + n, (seq_id + 1) * {L})
                       - GREATEST(strt, seq_id * {L}) AS npiece,
                   array_to_string(
                       toks[GREATEST(strt, seq_id * {L}) - strt + 1
                            : LEAST(strt + n, (seq_id + 1) * {L}) - strt],
                       ' ') AS piece
            FROM {pfx}_exp),
        {pfx}_out AS (
            SELECT seq_id,
                   CAST(SUM(npiece) AS BIGINT) AS n_tokens,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   string_agg(piece, ' ' ORDER BY pos) AS seq_text
            FROM {pfx}_piece GROUP BY seq_id)"""
