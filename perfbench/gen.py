"""Seeded, deterministic input generator for the benchmark workloads.

Every table is synthesized from ``--seed`` alone with numpy and
written with pyarrow, so the same seed gives byte-identical parquet
files.  The generator writes only under the directory it is given and
returns the inputs' properties plus the ground-truth counts the
workload checks compare against.

Tables follow the schema of the engine's testdata (``sources.tables``):
``events`` for the attribution pipeline, ``documents`` and
``embeddings`` for the corpus hygiene chain.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])
#: event-type counts of the sf0.1 testdata's 100,000 events (1,500
#: users, 66.7 events each, 30 days; see NOTES.md): organic events draw
#: their type with these shares
SF01_TYPE_COUNTS = np.array([19941, 19863, 20302, 20084, 19810])
TYPE_SHARES = SF01_TYPE_COUNTS / SF01_TYPE_COUNTS.sum()
PURCHASE = 3
EPOCH = datetime(2024, 1, 1)
DAY_US = 86_400_000_000
#: parquet row-group size; every table is written with the same layout
ROW_GROUP = 65_536


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, row_group_size=ROW_GROUP, compression="snappy")
    return pq.ParquetFile(path).num_row_groups


def _ts_array(us: np.ndarray) -> pa.Array:
    base = int((EPOCH - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(us.astype(np.int64) + base, type=pa.timestamp("us"))


def _dates(us: np.ndarray) -> np.ndarray:
    """Calendar day index (0 = 2024-01-01) of microsecond offsets."""
    return us // DAY_US


def day_str(day: int) -> str:
    return f"2024-01-{day + 1:02d}"


# ---------------------------------------------------------------------------
# events (attribution pipeline)
# ---------------------------------------------------------------------------


def events_table(
    rng: np.random.Generator, n_users: int, per_user: float, days: int,
    hot_sessions: int,
) -> tuple[pa.Table, dict]:
    """Organic users with Poisson(``per_user``) events each over
    ``days`` days, types drawn with sf0.1's shares, plus one planted
    hot user (id ``n_users``, bot-like traffic) with ``hot_sessions``
    views and clicks, 1 in 50 of its events purchases."""
    counts = rng.poisson(per_user, n_users).clip(1)
    users = np.repeat(np.arange(n_users, dtype=np.int64), counts)
    types = rng.choice(len(EVENT_TYPES), len(users), p=TYPE_SHARES)
    hot_types = np.where(
        rng.random(hot_sessions) < 0.02, PURCHASE, rng.integers(0, 2, hot_sessions)
    )
    users = np.concatenate([users, np.full(hot_sessions, n_users, np.int64)])
    types = np.concatenate([types, hot_types])
    n = len(users)
    # distinct microsecond stamps: ties between a session and a
    # conversion would only exercise tie-break rules, not the workload
    us = rng.choice(days * DAY_US, n, replace=False)
    order = np.argsort(us, kind="stable")
    us, users, types = us[order], users[order], types[order]
    value = np.round(rng.random(n) * 560.0, 2)
    k = rng.integers(0, 100, n)
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts_array(us),
        "user_id": pa.array(users),
        "event_type": pa.array(EVENT_TYPES[types]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
    })
    day = _dates(us)
    purchases = types == PURCHASE
    props = {
        "rows": n,
        "users": n_users + 1,
        "days": days,
        "hot_user_sessions": hot_sessions,
        "hot_user_share": round(hot_sessions / n, 4),
        "purchases": int(purchases.sum()),
        "purchases_by_day": np.bincount(day[purchases], minlength=days).tolist(),
        "attributed_channels": attributed_channels(us, users, types, days),
    }
    return table, props


def attributed_channels(us, users, types, days: int) -> list[list[int]]:
    """``[end - 1][d]``: the (channel, day) pairs the channel report
    holds for day ``d`` when the sink has scored every conversion up
    to day ``end`` (0-based ``d < end``).

    The journey rule: a session is attributed when the same user has a
    purchase strictly after it; a session counts here when such a
    purchase lies on or before day ``end``.  The report's rows are the
    distinct (event type, day) pairs of attributed sessions.
    """
    day = _dates(us)
    purchases = types == PURCHASE
    n_types = len(EVENT_TYPES)
    out = []
    for end in range(1, days + 1):
        last = np.full(int(users.max()) + 1, -1, np.int64)
        sel = purchases & (day < end)
        np.maximum.at(last, users[sel], us[sel])
        hit = (us < last[users]) & (day < end)
        pairs = np.unique(day[hit] * n_types + types[hit])
        out.append(np.bincount(pairs // n_types, minlength=end).tolist())
    return out


def gen_attribution(out_dir: str, seed: int, n_users: int, per_user: float,
                    days: int, hot_sessions: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    table, props = events_table(rng, n_users, per_user, days, hot_sessions)
    props["row_groups"] = {"events": _write(table, f"{out_dir}/events.parquet")}
    return props


# ---------------------------------------------------------------------------
# documents (corpus hygiene)
# ---------------------------------------------------------------------------

#: mirrors operators.dedup: 12 min-hashes in 4 bands of 3
MINHASH_K = 12
BAND = 3
#: mirrors the registry's eval split (CONTAM_EVAL_PRED)
EVAL_MOD = 25
LANGS = np.array(["en", "de", "fr", "es", "zh"])


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, ln)))
    return np.array(sorted(words))


def _shingles(text: str) -> set[str]:
    toks = text.strip().lower().split()
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def _band_keys(text: str) -> tuple[str, ...]:
    """The engine's LSH band keys (operators.dedup.minhash_bands)."""
    sh = _shingles(text)
    if not sh:
        return ()
    hs = [min(hashlib.md5(f"{i}|{s}".encode()).hexdigest() for s in sh)
          for i in range(MINHASH_K)]
    return tuple(
        f"{b}|" + "".join(hs[b * BAND:(b + 1) * BAND])
        for b in range(MINHASH_K // BAND)
    )


def _mix_keeps(doc_id: int) -> bool:
    """corpus_survivors_split's weighted mix filter (tail weight 0.5)."""
    if doc_id % 2 == 0:
        return True
    h = hashlib.md5(f"mix|tail|{doc_id}".encode()).hexdigest()[:8]
    return int(h, 16) < (1 << 31)


def gen_documents(out_dir: str, seed: int, n_docs: int, n_vectors: int) -> dict:
    """A corpus of ``n_docs`` documents in families, plus ``n_vectors``
    document embeddings for the near-neighbour search step.

    - singletons: one random text;
    - exact-duplicate families: 2-4 copies differing only in case and
      whitespace (one normalized text);
    - near-duplicate families: 2-8 copies of one base text, each with
      one or two extra trailing words (word-trigram Jaccard >= 0.9).
      Families stay far under dedup.MAX_BAND_BUCKET (32);
    - planted eval overlap: for every short singleton eval document
      (doc_id % 25 == 0), the singleton 7 ids later is replaced by a
      long text embedding a 6-word span of it, so the span's 4 shared
      trigrams reach the 0.2 overlap threshold while the pair's
      Jaccard stays far below the LSH bands.

    Ground truth is checked, not assumed: near-dup families are
    re-drawn until the engine's band keys connect every copy, and leak
    documents until they share no band with their eval document.
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 4000)

    def text(n_words: int) -> str:
        return " ".join(vocab[rng.integers(0, len(vocab), n_words)])

    docs: list[str] = []
    family: list[int] = []
    kinds = {"singleton": 0, "exact": 0, "near": 0}
    n_fam = 0
    while len(docs) < n_docs:
        room = n_docs - len(docs)
        r = rng.random()
        base_len = int(rng.integers(8, 60))
        if r < 0.08 and room >= 2:
            copies = int(min(rng.integers(2, 5), room))
            base = text(base_len)
            words = base.split()
            for c in range(copies):
                # same normalized text: case and whitespace differ only
                sep = " " if c % 2 == 0 else "  "
                body = sep.join(
                    w.upper() if j % 3 == c % 3 and c else w
                    for j, w in enumerate(words)
                )
                docs.append(body if c % 2 == 0 else f" {body} ")
                family.append(n_fam)
            kinds["exact"] += 1
        elif r < 0.16 and room >= 2:
            copies = int(min(rng.integers(2, 9), room))
            base_len = max(base_len, 30)
            while True:
                base = text(base_len)
                variants = [base] + [
                    f"{base} {text(int(rng.integers(1, 3)))}" for _ in range(copies - 1)
                ]
                keys = [set(_band_keys(v)) for v in variants]
                # union-find over shared band keys: the copies must form
                # one component
                seen = {0}
                frontier = [0]
                while frontier:
                    i = frontier.pop()
                    for j in range(copies):
                        if j not in seen and keys[i] & keys[j]:
                            seen.add(j)
                            frontier.append(j)
                if len(seen) == copies:
                    break
            docs.extend(variants)
            family.extend([n_fam] * copies)
            kinds["near"] += 1
        else:
            docs.append(text(base_len))
            family.append(n_fam)
            kinds["singleton"] += 1
        n_fam += 1

    # planted eval overlap (singleton slots only, so families stay intact)
    family_size = np.bincount(np.array(family))
    planted = []
    for ev in range(0, n_docs - 7, EVAL_MOD):
        tr = ev + 7
        if family_size[family[tr]] != 1 or family_size[family[ev]] != 1:
            continue
        ev_words = docs[ev].split()
        if len(ev_words) < 8 or len(_shingles(docs[ev])) > 20:
            # overlap_frac = 4 shared / |eval shingles| must reach 0.2
            continue
        ev_keys = set(_band_keys(docs[ev]))
        start = int(rng.integers(0, len(ev_words) - 6 + 1))
        span = " ".join(ev_words[start:start + 6])
        while True:
            leak = f"{text(40)} {span} {text(40)}"
            if not (set(_band_keys(leak)) & ev_keys):
                break
        docs[tr] = leak
        planted.append([tr, ev])

    doc_ids = np.arange(n_docs, dtype=np.int64)
    n_chars = np.array([len(d) for d in docs], dtype=np.int64)
    langs = LANGS[rng.integers(0, len(LANGS), n_docs)]
    table = pa.table({
        "doc_id": pa.array(doc_ids),
        "text": pa.array(docs),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(n_chars),
    })
    groups = int(n_fam)
    norm_counts: dict[str, int] = {}
    for d in docs:
        key = " ".join(d.lower().split())
        norm_counts[key] = norm_counts.get(key, 0) + 1
    # survivor per family: longest text, lowest id on ties (the
    # registry's order_col="n_chars" policy); the mix filter then
    # decides whether its row reaches the output
    fam = np.array(family)
    surv_out = 0
    for f in range(groups):
        members = np.flatnonzero(fam == f)
        best = members[np.lexsort((members, -n_chars[members]))[0]]
        surv_out += _mix_keeps(int(best))
    props = {
        "rows": n_docs,
        "groups": groups,
        "families": kinds,
        "duplicate_share": round(1 - groups / n_docs, 4),
        "max_group_size": int(family_size.max()),
        "mean_near_dup_group": round(
            float(np.mean([s for s in family_size if s > 1] or [1])), 2
        ),
        "eval_docs": int((doc_ids % EVAL_MOD == 0).sum()),
        "planted_eval_overlap": planted,
        "survivors_in_output": int(surv_out),
        "normalized_texts": len(norm_counts),
        "odd_docs": int(n_docs // 2),
        # pairs of documents whose normalized texts are equal: Jaccard 1,
        # so LSH always pairs them and verification always keeps them
        "equal_text_pairs": int(sum(c * (c - 1) // 2 for c in norm_counts.values())),
        "mix_rows": int(sum(_mix_keeps(i) for i in range(n_docs))),
        "family": family,
    }
    props["row_groups"] = {
        "documents": _write(table, f"{out_dir}/documents.parquet"),
        "embeddings": _write(
            embeddings_table(rng, n_vectors), f"{out_dir}/embeddings.parquet"
        ),
    }
    props["vectors"] = n_vectors
    return props


def embeddings_table(rng: np.random.Generator, n_vec: int) -> pa.Table:
    """Unit-norm 64-dim vectors around 10 cluster centres."""
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def generate(workload: str, out_dir: str, seed: int, size: dict) -> dict:
    """Generate one workload's inputs into ``out_dir``; returns the
    recorded properties (also written to ``out_dir/inputs.json``)."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "attribution_incremental":
        props = gen_attribution(out_dir, seed, **size)
    elif workload == "corpus_hygiene":
        props = gen_documents(out_dir, seed, **size)
    else:
        raise ValueError(f"unknown workload {workload!r}")
    props = {"workload": workload, "seed": seed, **props}
    with open(f"{out_dir}/inputs.json", "w") as f:
        json.dump(props, f, sort_keys=True)
    return props
