"""Seeded input generators for the benchmark workloads.

Everything here is pure pandas/NumPy: the same seed gives the same inputs,
and nothing starts Spark. The program under test only ever sees what these
functions return.

- corpora come from ``admarus_spark.corpus.make_bench_corpus``;
- queries are drawn over shape x document-frequency class slots, so the
  share of queries above and below the engine's posting-volume pruning
  gate is fixed by construction (``check_query_class`` asserts it);
- ingest deltas replace ~1 % of the corpus: half changed content on
  existing paths, half new paths;
- the ops tables mirror the schema of the sf0.1 test tables
  (documents, embeddings, events, lineitem).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

from admarus_spark.corpus import make_bench_corpus, sha256_hex

SHAPES = ("term", "and", "or", "nofm", "not", "lang")
CLASSES = ("head", "mid", "rare", "absent")
LANGS = ("python", "rust", "c", "go", "javascript")  # make_bench_corpus langs

# class bands as fractions of the corpus size N
HEAD_MIN_FRAC = 0.5      # head: df >= N/2
MID_BAND = (0.02, 0.2)   # mid: 2 % .. 20 % of N
RARE_MAX_DF = 3          # rare: identifiers in 1..3 docs
# Slot order, the same for every seed: grid index shape * 4 + class, first
# the slots whose shape and class indexes have an even sum, then the rest,
# so each half holds every shape twice and every class three times.
GRID_ORDER = sorted(range(len(SHAPES) * len(CLASSES)),
                    key=lambda k: ((k // len(CLASSES) + k % len(CLASSES)) % 2, k))

HEAD_VOLUME_MARGIN = 1.1  # head multi-term queries carry >= 1.1 x gate postings
# above-gate head queries draw from the highest-df head terms, so they need
# as few terms as the corpus allows (13-15 at 5k docs and a 50k gate)
HEAD_GATE_POOL = 16


@dataclass(frozen=True)
class Slot:
    shape: str
    cls: str
    text: str
    key_terms: tuple[str, ...]


def doc_freq(docs: pd.DataFrame) -> dict[str, int]:
    """term -> number of documents containing it, with the oracle's tokenizer."""
    from collections import Counter

    from admarus_spark.tokenizer import tokenize

    counts: Counter = Counter()
    for text in docs["content"]:
        counts.update(set(tokenize(text)))
    return dict(counts)


def term_pools(df: dict[str, int], n_docs: int) -> dict[str, list[str]]:
    """Terms per df class, sorted for determinism (head: df descending)."""
    lo, hi = MID_BAND[0] * n_docs, MID_BAND[1] * n_docs
    head = sorted((t for t, d in df.items() if d >= HEAD_MIN_FRAC * n_docs),
                  key=lambda t: (-df[t], t))
    mid = sorted(t for t, d in df.items() if lo <= d <= hi)
    # rare identifiers only: the code-word head never lands in 1..3 docs
    rare = sorted(t for t, d in df.items() if 1 <= d <= RARE_MAX_DF and t.startswith("ident"))
    return {"head": head, "mid": mid, "rare": rare}


def _absent(rng: np.random.RandomState) -> str:
    # "zq" never occurs in make_bench_corpus output (code words + identNNN)
    return "zq" + "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 8))


def _draw(pool: list[str], n: int, rng: np.random.RandomState) -> list[str]:
    idx = rng.choice(len(pool), size=n, replace=False)
    return [pool[i] for i in sorted(idx)]


def _gate_head_terms(pool: list[str], df: dict[str, int], gate: int,
                     rng: np.random.RandomState) -> list[str]:
    """Head terms in seeded order until their posting volume clears the gate
    with margin, so the query sits above it whatever the seed. ``pool`` is
    sorted by df, highest first."""
    top = pool[:HEAD_GATE_POOL]
    order = [top[i] for i in rng.permutation(len(top))]
    out: list[str] = []
    for t in order:
        out.append(t)
        if len(out) >= 2 and sum(df[x] for x in out) >= HEAD_VOLUME_MARGIN * gate:
            return out
    raise ValueError(
        f"top {len(top)} head terms cannot reach {HEAD_VOLUME_MARGIN} x {gate} postings"
    )


def make_slot(shape: str, cls: str, pools: dict[str, list[str]], df: dict[str, int],
              gate: int, rng: np.random.RandomState, head_terms: int | None = None) -> Slot:
    """One query of the given shape whose key terms fall in the given class.
    Multi-term head queries take enough head terms to clear the gate, or
    exactly ``head_terms`` of them when given."""
    if cls == "head" and shape == "term":
        keys = [pools["head"][rng.randint(min(8, len(pools["head"])))]]
    elif cls == "head":
        keys = _gate_head_terms(pools["head"], df, gate, rng) if head_terms is None \
            else _draw(pools["head"], head_terms, rng)
    elif cls == "absent":
        keys = [_absent(rng) for _ in range(1 if shape == "term" else 3)]
    else:
        keys = _draw(pools[cls], 1 if shape == "term" else 3, rng)
    mid_other = pools["mid"][rng.randint(len(pools["mid"]))]
    lang = LANGS[rng.randint(len(LANGS))]
    if shape == "term":
        text = keys[0]
    elif shape == "and":
        if cls == "rare":
            # rare ids almost never co-occur: pair one with a head word
            keys = keys[:1]
            text = f"{keys[0]} AND {pools['head'][0]}"
        else:
            text = " AND ".join(keys)
    elif shape == "or":
        text = " ".join(keys)
    elif shape == "nofm":
        text = f"2({', '.join(keys)})"
    elif shape == "not":
        text = f"({' '.join(keys)}) AND NOT {mid_other}"
    elif shape == "lang":
        text = f"lang={lang} AND ({' '.join(keys)})"
    else:
        raise ValueError(shape)
    return Slot(shape, cls, text, tuple(keys))


def query_terms(text: str) -> list[str]:
    from admarus_spark.query.parser import parse_query

    return list(dict.fromkeys(parse_query(text).terms()))


def volume(text: str, df: dict[str, int]) -> int:
    """Posting volume the engine's pruning gate sees: summed df of every
    distinct term in the query."""
    return sum(df.get(t, 0) for t in query_terms(text))


def check_query_class(slot: Slot, df: dict[str, int], n_docs: int, gate: int,
                      above_gate: bool = True) -> None:
    """Raise ValueError unless the query lands in its declared shape x class:
    key-term dfs in the class band, and posting volume above the gate for
    multi-term head queries (when ``above_gate``), below it otherwise."""
    dfs = [df.get(t, 0) for t in slot.key_terms]
    vol = volume(slot.text, df)
    if slot.cls == "head":
        want_above = above_gate and slot.shape != "term"
        ok = all(d >= HEAD_MIN_FRAC * n_docs for d in dfs) and (vol >= gate) == want_above
    elif slot.cls == "mid":
        ok = all(MID_BAND[0] * n_docs <= d <= MID_BAND[1] * n_docs for d in dfs) and vol < gate
    elif slot.cls == "rare":
        ok = all(1 <= d <= RARE_MAX_DF for d in dfs) and vol < gate
    else:
        ok = all(d == 0 for d in dfs) and vol < gate
    if not ok:
        raise ValueError(
            f"query {slot.text!r} left its class {slot.shape}x{slot.cls}: "
            f"key dfs {dfs}, volume {vol}, gate {gate}, N {n_docs}"
        )


def query_grid(df: dict[str, int], n_docs: int, gate: int, seed: int,
               head_terms: int | None = None) -> list[Slot]:
    """The full shape x class grid in GRID_ORDER; the seed draws the terms.
    Every slot is class-checked before it is returned. ``head_terms`` keeps
    multi-term head queries below the gate (see make_slot)."""
    rng = np.random.RandomState(seed)
    pools = term_pools(df, n_docs)
    for c in ("head", "mid", "rare"):
        if len(pools[c]) < 3:
            raise ValueError(f"corpus has only {len(pools[c])} {c} terms")
    grid = [make_slot(s, c, pools, df, gate, rng, head_terms)
            for s in SHAPES for c in CLASSES]
    slots = [grid[i] for i in GRID_ORDER]
    for s in slots:
        check_query_class(s, df, n_docs, gate, above_gate=head_terms is None)
    return slots


def make_delta(base: pd.DataFrame, n_delta: int, seed: int,
               vocab_size: int) -> pd.DataFrame:
    """``n_delta`` docs: ~half changed content on existing base paths, ~half
    new paths under a ``gen/`` prefix. The content comes from a fresh
    make_bench_corpus draw."""
    rng = np.random.RandomState(seed + 7919)
    content = make_bench_corpus(n_delta, seed + 7919, vocab_size)
    n_changed = n_delta // 2
    changed = base.iloc[np.sort(rng.choice(len(base), n_changed, replace=False))].copy()
    changed["content"] = content["content"].iloc[:n_changed].to_numpy()
    changed["commit"] = [f"c{i:039x}" for i in range(n_changed)]
    new = content.iloc[n_changed:].copy()
    new["path"] = [f"gen/file{i:08d}.py" for i in range(len(new))]
    delta = pd.concat([changed, new], ignore_index=True)
    delta["content_sha256"] = delta["content"].map(sha256_hex)
    return delta


def apply_delta(current: pd.DataFrame, delta: pd.DataFrame) -> pd.DataFrame:
    """Corpus state after an upsert keyed by (repo, path)."""
    key = ["repo", "path"]
    kept = current.merge(delta[key], on=key, how="left", indicator=True)
    kept = kept[kept["_merge"] == "left_only"].drop(columns="_merge")
    return pd.concat([kept, delta], ignore_index=True)


# ---------------------------------------------------------------------------
# ops tables (schema of the sf0.1 test tables)
# ---------------------------------------------------------------------------

_OPS_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast the row "
    "agg key query scan batch a"
).split()
_OPS_LANGS = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
_OPS_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def ops_tables(seed: int, n_docs: int, n_vecs: int, dim: int, n_events: int,
               n_lineitem: int) -> dict[str, pd.DataFrame]:
    """Seeded tables for the ten ops leaves."""
    rng = np.random.RandomState(seed)
    vocab = np.array(_OPS_VOCAB, dtype=object)
    lens = rng.randint(8, 100, n_docs)
    words = vocab[rng.randint(0, len(vocab), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    for i in np.flatnonzero(rng.random_sample(n_docs) < 0.05):
        texts[i] += " dup"
    # near-duplicates (one word swapped) and exact copies feed the dedup leaves
    for i in np.flatnonzero(rng.random_sample(n_docs) < 0.03):
        src = texts[rng.randint(n_docs)].split(" ")
        if rng.random_sample() < 0.5:
            src[rng.randint(len(src))] = vocab[rng.randint(len(vocab))]
        texts[i] = " ".join(src)
    documents = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _OPS_LANGS[rng.choice(len(_OPS_LANGS), n_docs, p=_OPS_LANG_P)],
        "source": [f"src{i}" for i in rng.randint(0, 20, n_docs)],
    })
    documents["n_chars"] = documents["text"].str.len().astype(np.int64)

    labels = rng.randint(0, 10, n_vecs).astype(np.int32)
    cents = rng.normal(0, 1, (10, dim))
    vecs = cents[labels] + rng.normal(0, 0.8, (n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels,
    })

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.randint(0, 30 * 86400 * 10**6, n_events)).astype("timedelta64[us]")
    events = pd.DataFrame({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": t0 + offs,
        "user_id": rng.randint(0, 1500, n_events).astype(np.int64),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"],
                               dtype=object)[rng.randint(0, 5, n_events)],
        "value": np.round(rng.uniform(0, 10, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.randint(0, 100, n_events)],
    })

    n = n_lineitem
    d0 = np.datetime64("1992-01-01", "us")
    days = rng.randint(0, 7 * 365, n).astype("timedelta64[D]").astype("timedelta64[us]")
    lineitem = pd.DataFrame({
        "l_orderkey": rng.randint(1, n // 4 + 1, n).astype(np.int64),
        "l_partkey": rng.randint(1, 20_000, n).astype(np.int64),
        "l_suppkey": rng.randint(1, 1_000, n).astype(np.int64),
        "l_linenumber": rng.randint(1, 8, n).astype(np.int32),
        "l_quantity": rng.randint(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.randint(0, 11, n) / 100.0,
        "l_tax": rng.randint(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.randint(0, 3, n)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.randint(0, 2, n)],
        "l_shipdate": d0 + days,
    })
    return {"documents": documents, "embeddings": embeddings,
            "events": events, "lineitem": lineitem}


def write_ops_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> None:
    """One single-row-group parquet file per table, like the test tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, pdf in tables.items():
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(pdf) or 1)
