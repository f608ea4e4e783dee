"""Distributed BPE training and segmentation (Sennrich et al. 2016).

The full tokenizer-training loop on Spark, completing the story
`operators/vocab.py` starts (its pair count IS one merge round's
statistic):

- :func:`bpe_train` — learn a merge sequence.  BPE trains on WORD
  TYPES, not the corpus stream: the state is the distinct-word table
  (word, freq, symbols[]), orders of magnitude smaller than the
  corpus, and each merge round is (a) a map-side-combinable pair-count
  aggregate weighted by word frequency, (b) a driver-side argmax of
  ONE row (the same bounded transfer a broadcast join makes), and
  (c) a row-local fold applying the merge to each word's symbol
  array.  Like connected_components, the driver loop carries a
  lineage-truncating materialize per round so round r+1 doesn't
  recompute rounds 1..r.
- :func:`bpe_segment` — apply a learned merge sequence to documents,
  row-locally (one left-to-right greedy fold per merge, the exact
  per-word procedure of the reference implementation).  Zero shuffles
  at any corpus size.

Verification split (the connected-components precedent for iterative
algorithms): TRAINING has no DuckDB twin — the merge loop is genuinely
sequential — so its gate is pytest equivalence against a transparent
Python reference (test_bpe.py).  SEGMENTATION with a FIXED merge list
(the production shape: a pretrained tokenizer shipped as data) IS
SQL-expressible and gets a bit-exact oracle: each word becomes a
bracket-wrapped symbol string '[l][o][w</w>]' and each merge one
non-overlapping left-to-right `replace('[a][b]' -> '[ab]')` — the
brackets make matches boundary-safe (no pattern can match inside a
longer symbol) and self-delimiting (adjacent matches share no
characters, so scan-after-replacement equals greedy-left — the exact
fold semantics of :func:`_merge_adjacent`).

Symbols are seeded as characters with a word-end marker '</w>' on the
last character, the original formulation; pairs are joined with a
space when merged symbols concatenate.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Row, functions as F

from ..checkpoint import materialize
from ..functions.sqlexpr import sql_ref, sql_str
from .retrieval import search_tokens

#: word-end marker appended to a word's final character symbol.
END = "</w>"

#: segmentation expression depth bound: each merge adds one nested
#: replace() to the per-word expression, so very long merge lists
#: belong in an Arrow-batched UDF applying a merge trie, not an
#: expression chain.  64 is far past every in-repo consumer and well
#: inside Catalyst's comfort zone.
MAX_SEGMENT_MERGES = 64

_SYMBOL_RE = re.compile(r"^[a-z0-9]+(</w>)?$")


def _check_merges(merges: list[tuple[str, str]]) -> None:
    """Segmentation safety: symbols must be search_tokens-derived
    ([a-z0-9]+ with an optional trailing END).  Anything else would
    break the bracket encoding (bpe_segment) or the generated SQL
    (segment_sql) silently — so it raises here instead."""
    if len(merges) > MAX_SEGMENT_MERGES:
        raise ValueError(
            f"{len(merges)} merges > MAX_SEGMENT_MERGES={MAX_SEGMENT_MERGES}"
            " — use an Arrow-batched trie for production-size vocabularies"
        )
    for a, b in merges:
        for s in (a, b):
            if not _SYMBOL_RE.match(s):
                raise ValueError(f"invalid merge symbol {s!r}")


def _char_symbols(word: Column) -> Column:
    """['h', 'e', 'r</w>'] for 'her' — char symbols, end-marked."""
    chars = F.split(word, "")
    n = F.size(chars)
    return F.concat(
        F.slice(chars, 1, n - 1),
        F.array(F.concat(F.element_at(chars, n), F.lit(END))),
    )


def _merge_adjacent(symbols: Column, a: str, b: str) -> Column:
    """Greedy left-to-right merge of adjacent (a, b) -> a||b.

    A fold over the symbol array: append each symbol, except when the
    accumulator's last element is ``a`` and the incoming symbol is
    ``b`` — then replace the last element with the concatenation.
    Greedy-left semantics match the reference implementation (in
    'aaa' with merge (a,a), the first two merge, the third stays).
    """
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a)) & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def word_types(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq, symbols) — the BPE training state, one row per
    distinct word, char-seeded."""
    w = (
        docs.select(F.explode(search_tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    return w.withColumn("symbols", _char_symbols(F.col("word")))


def _pair_counts(types: DataFrame) -> DataFrame:
    """(a, b, n): adjacent symbol pairs over word types, weighted by
    word frequency — vocab.bpe_pair_top's statistic on the compact
    state."""
    toks = F.col("symbols")
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("a"),
                F.element_at(toks, i + 1).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    return (
        types.select("freq", F.explode(pairs).alias("p"))
        .groupBy("p.a", "p.b")
        .agg(F.sum("freq").alias("n"))
    )


def bpe_train(
    docs: DataFrame, n_merges: int, text_col: str = "text"
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from ``docs``.

    Returns the ordered merge list [(a, b), ...].  Ties on count break
    lexicographically on (a, b) so the sequence is deterministic at
    any parallelism.  Stops early when no pair is left.
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    return train_merge_loop(materialize(word_types(docs, text_col)), n_merges)


def train_merge_loop(
    types: DataFrame, n_merges: int
) -> list[tuple[str, str]]:
    """The sequential greedy merge loop over ANY (freq, symbols) state
    table — shared by :func:`bpe_train` (word types, ``</w>``-marked)
    and ``bpe_bytes.bpe_train_bytes`` (byte pre-token types)."""
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top: list[Row] = (
            _pair_counts(types)
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )  # ONE row — the same bounded transfer a broadcast makes
        if not top:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        # row-local merge application; materialize truncates lineage so
        # the next round's pair count reads this round's state, not a
        # growing chain of folds (connected_components' loop shape)
        types = materialize(
            types.withColumn("symbols", _merge_adjacent(F.col("symbols"), a, b))
        )
    return merges


def _merge_adjacent_many(symbols: Column, pairs: list[tuple[str, str]]) -> Column:
    """One greedy left-to-right fold applying ALL ``pairs`` — valid
    ONLY for a batch satisfying ``_select_safe_batch``'s invariant: no
    pair's SECOND symbol equals another's FIRST (no chains — one rule
    consuming/creating another's match) and no symbol equals another's
    concatenation (no aliases).  Pairs MAY share first-with-first or
    second-with-second symbols: a given occurrence then matches at
    most one rule (a symbol has one follower and one predecessor), so
    a single pass equals applying the merges sequentially in any
    order."""
    def step(acc: Column, s: Column) -> Column:
        last = F.try_element_at(acc, F.lit(-1))
        expr = F.concat(acc, F.array(s))
        for a, b in pairs:
            expr = F.when(
                (last == F.lit(a)) & (s == F.lit(b)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(a + b))
                ),
            ).otherwise(expr)
        return expr

    return F.aggregate(symbols, F.array().cast("array<string>"), step)


#: per-round driver transfer cap for batched training: the top-M pair
#: counts (a deterministic TakeOrdered — ~50 B/row, so 4096 rows is a
#: broadcast-class transfer).  Anything below rank M is bounded by the
#: M-th count, which the selection rule folds into its safety bound.
BATCH_TOP_M = 4096


def _select_safe_batch(
    cands: list[tuple[str, str, int]],
    tail_bound: int,
    max_batch: int,
    exact: bool = True,
) -> list[tuple[str, str]]:
    """Choose a prefix of merges provably equal to sequential greedy.

    ``cands`` is the collected top-M pair list sorted (n DESC, a, b) —
    exactly greedy's scan order.  The key fact: applying merge (a, b)
    changes ONLY pair counts of the forms (x, a), (b, y) and (a, b)
    itself (a symbol has exactly one follower and one predecessor), and
    every CREATED pair inherits a bound from one of those forms —
    n(x, a||b) <= old n(x, a), n(a||b, y) <= old n(b, y).  So a
    candidate CONFLICTS with an accepted merge (a, b) iff its second
    symbol == a, its first symbol == b (chains), or either symbol ==
    a||b / its concatenation collides with an accepted symbol or
    concatenation (aliases).  Candidates sharing first-with-first or
    second-with-second symbols do NOT conflict — the common
    natural-language case ('e' as a popular left symbol) — which is
    what makes batches bigger than the naive any-shared-symbol rule.

    Scan in order: accept non-conflicting candidates; fold every
    conflicting candidate's count into the bound ``T`` (it caps all
    post-merge count movement).  Acceptance requires count strictly
    > T, so no changed/created pair can overtake or tie an accepted
    one; ties among UNCHANGED pairs follow the same (n, a, b) order
    sequential greedy uses.  After the scan, drop any accepted suffix
    whose count <= the final T (a later conflicter may bound an
    earlier accept).  Dropping an accepted merge is always safe:
    candidates it caused to be skipped keep counts <= its count, and
    every later accept required strictly more.

    The one case the count argument cannot see driver-side — the
    concatenation a||b ALREADY exists as a symbol in the alphabet, so
    created pairs merge with existing counts — is excluded by the
    caller via one tiny alphabet probe.

    ``exact=False`` drops the count bound (the T machinery) and keeps
    only the conflict rules that make one-pass application
    well-defined: batches then fill to ``max_batch`` with the highest
    -count non-conflicting pairs, which is how production tokenizer
    trainers batch — deterministic and near-greedy (a merge can land a
    few positions out of pure count order within a round), but no
    longer bit-equal to sequential.  bpe_train_batched(exact=False)
    documents the trade; the default stays exact.
    """
    accepted: list[tuple[str, str, int]] = []
    firsts: set[str] = set()    # accepted a's: conflict when d == a
    seconds: set[str] = set()   # accepted b's: conflict when c == b
    concats: set[str] = set()   # accepted a||b: alias conflicts
    symbols: set[str] = set()   # accepted symbols: alias via c||d
    t_bound = tail_bound
    for a, b, n in cands:
        if exact and n <= t_bound:
            break
        conflict = (
            b in firsts or a in seconds          # chain: c·a·b / a·b·d
            # (self-merges fall out of the same two tests: an accepted
            # (e,e) puts e in both sets; a candidate (e,e) checks both)
            or a in concats or b in concats      # symbol == a||b
            or (a + b) in concats                # duplicate creation
            or (a + b) in symbols                # creates an accepted symbol
        )
        if conflict:
            t_bound = max(t_bound, n)
            continue
        if len(accepted) < max_batch:
            accepted.append((a, b, n))
            firsts.add(a)
            seconds.add(b)
            concats.add(a + b)
            symbols.update((a, b))
        elif exact:
            # past the cap everything is a potential conflicter
            t_bound = max(t_bound, n)
        else:
            break  # non-exact: batch is full
    if exact:
        while accepted and accepted[-1][2] <= t_bound:
            accepted.pop()
    return [(a, b) for a, b, _ in accepted]


def _probe_filter(
    batch: list[tuple[str, str]], existing: set[str], exact: bool
) -> list[tuple[str, str]]:
    """Apply the alphabet-probe result to a safe batch.

    ``exact=True`` TRUNCATES at the first aliasing member (round-7
    advice #1): filtering it out of the MIDDLE would emit lower-count
    members ahead of a merge sequential greedy WOULD apply, and the
    aliased counts that merge creates can redirect every later pick —
    so everything after the first alias is unproven.  When the FIRST
    member aliases (batch[0] is always sequential's actual argmax) the
    caller applies it alone — a single merge is sequential-exact even
    when its concatenation aliases an existing symbol, because the
    one-pass fold applies it everywhere exactly as sequential would.

    ``exact=False`` keeps the old filter: members are independent by
    the conflict rules, and near-greedy mode trades order fidelity for
    batch fill anyway.

    Aliasing here is necessarily a DIFFERENT split of the same string
    (symbol a||b born from some (u, v) != (a, b)): once a pair itself
    merges, new (a, b) adjacencies would need symbol a or b to be
    created later, and each symbol is created at exactly one global
    step — so self-alias cannot recur.
    """
    if exact:
        for i, (a, b) in enumerate(batch):
            if a + b in existing:
                return batch[:i]
        return batch
    return [(a, b) for a, b in batch if a + b not in existing]


def bpe_train_batched(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    max_batch: int = 64,
    top_m: int = BATCH_TOP_M,
    round_log: list[int] | None = None,
    exact: bool = True,
) -> list[tuple[str, str]]:
    """:func:`bpe_train` with k provably-safe merges per driver round
    (round-6 verdict #1 on scale: sequential training is one Spark
    job pair PER MERGE — a 32k-merge vocabulary means days of
    scheduler latency; batching spends the same shuffles on many
    merges whenever the top of the pair distribution is
    symbol-disjoint).

    Returns BIT-IDENTICAL merges to :func:`bpe_train` (pytest-pinned
    on synthetic and real corpora): each round collects the top-M pair
    counts (bounded TakeOrdered transfer), selects the longest provably
    -sequential-equal prefix (:func:`_select_safe_batch` — the count
    bound plus one tiny alphabet probe excluding concatenation
    collisions), applies the whole batch in ONE fold pass
    (:func:`_merge_adjacent_many` — safe because batch members cannot
    chain or alias), and materializes once.  Worst case (every top
    pair conflicts) degrades to one merge per round — never worse than
    sequential; measured round counts are in BASELINE.md.

    ``exact=True`` (default) is bit-equal to :func:`bpe_train`; with
    tightly-packed Zipfian counts the provable batch is small
    (measured 2.4 merges/round at 1000 merges on a 20k-type letter
    -Zipf corpus — BASELINE.md), because the count bound honestly
    cannot see further.  ``exact=False`` fills batches to
    ``max_batch`` with the highest-count non-conflicting pairs —
    deterministic, rounds ~ n_merges/max_batch (measured 16 rounds
    for 1000 merges) — but merges land out of strict count order and
    the divergence COMPOUNDS (measured merge-set overlap with exact
    greedy 0.58 at 1000 merges on that corpus).  Preference order for
    production vocabularies: :func:`bpe_train_local` (bit-exact,
    driver-side over the capped word-type table) when types fit the
    driver; exact batched when they don't and exactness matters;
    ``exact=False`` only when round latency dominates and the
    tokenizer consumer tolerates a greedy-like (not greedy) merge
    table.
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    return batched_merge_loop(
        materialize(word_types(docs, text_col)), n_merges,
        max_batch=max_batch, top_m=top_m, round_log=round_log,
        exact=exact,
    )


def batched_merge_loop(
    types: DataFrame,
    n_merges: int,
    max_batch: int = 64,
    top_m: int = BATCH_TOP_M,
    round_log: list[int] | None = None,
    exact: bool = True,
) -> list[tuple[str, str]]:
    """The batched greedy loop over ANY (freq, symbols) state table —
    shared by :func:`bpe_train_batched` (word types) and
    ``bpe_bytes.bpe_train_bytes_batched`` (byte pre-token types); the
    safety machinery (:func:`_select_safe_batch`, the alphabet probe)
    is symbol-agnostic."""
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        top: list[Row] = (
            _pair_counts(types)
            .orderBy(F.col("n").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(top_m)
            .collect()
        )
        if not top:
            break
        cands = [(r["a"], r["b"], r["n"]) for r in top]
        tail = cands[-1][2] if len(cands) == top_m else 0
        batch = _select_safe_batch(
            cands, tail, min(max_batch, n_merges - len(merges)), exact=exact
        )
        if len(batch) > 1:
            # alphabet probe: a merge whose concatenation already IS a
            # symbol would alias created pairs onto existing counts —
            # outside the count bound's reach, so defer such merges to
            # their own round.  One broadcast-class job (|batch| rows).
            concat_strs = [a + b for a, b in batch]
            existing = {
                r[0]
                for r in types.select(
                    F.explode("symbols").alias("s")
                ).filter(F.col("s").isin(concat_strs)).distinct().collect()
            }
            batch = _probe_filter(batch, existing, exact)
        if not batch:
            # the argmax alone is always exact (it IS sequential's pick):
            # a single merge stays sequential-exact even when its
            # concatenation aliases an existing symbol, because the fold
            # applies it everywhere just as sequential would.
            batch = [(cands[0][0], cands[0][1])]
        merges.extend(batch)
        if round_log is not None:
            round_log.append(len(batch))
        types = materialize(
            types.withColumn(
                "symbols", _merge_adjacent_many(F.col("symbols"), batch)
            )
        )
    return merges


#: driver-side word-type cap for the local trainer: 2M distinct words
#: x ~60 B is a ~120 MB transfer — the same broadcast-budget class the
#: CC local fast path uses.  Natural-language type counts sit far
#: below this even for 100 TB corpora (types grow ~ corpus^0.5, Heaps'
#: law); refuse loudly rather than truncate silently above it.
MAX_LOCAL_TYPES = 2_000_000


def bpe_train_local(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    max_types: int = MAX_LOCAL_TYPES,
) -> list[tuple[str, str]]:
    """PRODUCTION-vocabulary training path: collect the word-TYPE
    table (distinct words + frequencies — tiny relative to the corpus
    by Heaps' law) under ``max_types`` and run the exact greedy loop
    driver-side with incremental pair-count maintenance — no per-merge
    Spark jobs at all, so a 32k-merge vocabulary is minutes, not days.
    The distributed paths (:func:`bpe_train`, :func:`bpe_train_batched`)
    remain the oracle-pinned forms; this one is pytest-pinned equal to
    them.  ONE distributed aggregation (the word count) touches the
    corpus; everything after is O(types) driver work.
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    tdf = word_types(docs, text_col).select("word", "freq")
    n_types = tdf.count()
    if n_types > max_types:
        raise ValueError(
            f"{n_types} word types > max_types={max_types}; raise the cap "
            "(driver memory permitting) or use bpe_train_batched"
        )
    rows = tdf.collect()
    syms: list[list[str]] = [
        [*w[:-1], w[-1] + END] for w in (r["word"] for r in rows)
    ]
    freqs = [r["freq"] for r in rows]
    return greedy_merges(syms, freqs, n_merges)


def greedy_merges(
    syms: list[list[str]], freqs: list[int], n_merges: int
) -> list[tuple[str, str]]:
    """Driver-side exact greedy BPE with incremental pair-count
    maintenance, over ANY seeded symbol state — shared by
    :func:`bpe_train_local` (word types) and
    ``bpe_bytes.bpe_train_bytes_local`` (byte pre-token types).
    Mutates ``syms`` in place."""
    counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for t, s in enumerate(syms):
        f = freqs[t]
        for i in range(len(s) - 1):
            p = (s[i], s[i + 1])
            counts[p] = counts.get(p, 0) + f
            where.setdefault(p, set()).add(t)

    def _retire(p: tuple[str, str], t: int, f: int) -> None:
        c = counts[p] - f
        if c:
            counts[p] = c
        else:
            del counts[p]

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not counts:
            break
        (a, b) = min(counts, key=lambda p: (-counts[p], p))
        merges.append((a, b))
        for t in list(where.get((a, b), ())):
            s, f = syms[t], freqs[t]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                _retire(p, t, f)
                w = where.get(p)
                if w is not None:  # a pair can repeat within one word
                    w.discard(t)
                    if not w:
                        del where[p]
            out: list[str] = []
            for tok in s:
                if out and out[-1] == a and tok == b:
                    out[-1] = a + b
                else:
                    out.append(tok)
            syms[t] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                counts[p] = counts.get(p, 0) + f
                where.setdefault(p, set()).add(t)
    return merges


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Append ``out_col``: the document's BPE segmentation under a
    learned merge sequence — row-local, ZERO shuffles at any corpus
    size.

    Implementation is the bracket-replace emulation (module
    docstring), the same procedure the oracle runs: each word becomes
    '[l][o][w</w>]' and each merge one literal
    ``replace('[a][b]' -> '[ab]')`` — plain whole-stage-codegen string
    ops.  Two rejected shapes, for the record: a per-occurrence
    aggregate-fold chain ran INTERPRETED and quadratic per word
    (10.5 s / 500 docs); a word-type dictionary join fixed the
    redundancy but paid a broadcast + posexplode + reassembly shuffle
    and a 16 s cold plan compile.  This form is pure project — no
    joins, no Generate, no higher-order fold.
    """
    _check_merges(merges)

    # the whole per-word bracket-replace chain parses as ONE expr
    # string (~90 fewer py4j round-trips per build than one replace
    # call per merge).  Symbols are _SYMBOL_RE-validated ([a-z0-9]+ +
    # </w>), but quote for SQL anyway.
    s = f"concat('[', array_join(split(w, ''), ']['), {sql_str(END + ']')})"
    for a, b in merges:
        s = f"replace({s}, {sql_str(f'[{a}][{b}]')}, {sql_str(f'[{a + b}]')})"
    seg = f"split(substr({s}, 2, length({s}) - 2), '\\\\]\\\\[')"
    return docs.withColumn(
        out_col,
        F.expr(
            f"flatten(transform(regexp_extract_all(lower({sql_ref(text_col)}), "
            f"'[a-z0-9]+', 0), w -> {seg}))"
        ),
    )


def bpe_segment_arrow(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """:func:`bpe_segment` for PRODUCTION-SIZE merge lists.

    The expression form nests one replace() per merge and is capped at
    MAX_SEGMENT_MERGES; real tokenizers carry 10k-50k merges, which is
    per-row sequential work with a big lookup table — exactly the
    Arrow boundary this engine's Python policy allows (DESIGN.md).
    mapInPandas applies the merge sequence per DISTINCT word with a
    per-batch cache (Zipf makes the cache hit rate high), still
    row-local: zero shuffles at any corpus size.

    Semantics are identical to :func:`bpe_segment` / the python
    reference: merges applied in learned order, greedy left-to-right
    (pinned by tests for both small and 200-merge lists).
    """
    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    for a, b in merges:
        for s in (a, b):
            if not _SYMBOL_RE.match(s):
                raise ValueError(f"invalid merge symbol {s!r}")
    out_schema = StructType(
        list(docs.schema.fields)
        + [StructField(out_col, ArrayType(StringType()), False)]
    )
    word_re = re.compile("[a-z0-9]+")
    mlist = list(merges)

    def _seg_word(w: str) -> list[str]:
        syms = [*w[:-1], w[-1] + END]
        for a, b in mlist:
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            syms = out
        return syms

    def _apply(batches):
        cache: dict[str, list[str]] = {}
        for pdf in batches:
            col = []
            for t in pdf[text_col]:
                toks: list[str] = []
                for w in word_re.findall((t or "").lower()):
                    got = cache.get(w)
                    if got is None:
                        got = cache[w] = _seg_word(w)
                    toks.extend(got)
                col.append(toks)
            pdf = pdf.copy()
            pdf[out_col] = col
            yield pdf

    return docs.mapInPandas(_apply, out_schema)


def segment_sql(
    merges: list[tuple[str, str]], token_pattern: str, pfx: str = "bp"
) -> str:
    """DuckDB twin of :func:`bpe_segment` for a FIXED merge list.

    CTE ``{pfx}_seg``: (doc_id, bpe_tokens) over the ``documents``
    view, via the bracket-replace emulation (module docstring).
    """
    _check_merges(merges)
    expr = (
        "'[' || array_to_string(str_split(w, ''), '][') || '</w>]'"
    )
    for a, b in merges:
        expr = f"replace({expr}, '[{a}][{b}]', '[{a + b}]')"
    return f"""
        {pfx}_seg AS (
            SELECT doc_id,
                   CASE WHEN len(words) = 0 THEN []::VARCHAR[]
                        ELSE str_split(
                            substr(joined, 2, length(joined) - 2), '][')
                   END AS bpe_tokens
            FROM (
                SELECT doc_id, words,
                       array_to_string(
                           list_transform(words, w -> {expr}), '') AS joined
                FROM (SELECT doc_id,
                             regexp_extract_all(lower(text), '{token_pattern}')
                                 AS words
                      FROM documents)))"""

