"""Seeded input generators.

Every input the benchmark feeds the engine is made here from ``--seed``:
the same seed gives identical tables.  ``write_sf_dir`` lays them out
as a complete sf-style directory (one parquet file per table in
``TABLE_NAMES``), so the engine's ``load_table`` and the oracle's
``duck_connect`` read it unchanged.  Tables a workload does not use are
written as one-row placeholders: they exist only so that every oracle view
can be created.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC, epoch micros
DAY_US = 86_400 * 1_000_000

# Documents and embeddings are fitted to the reference corpus at scale
# factor 0.1 (5,000 documents, 2,000 embeddings), measured from its parquet:
# * text: words drawn uniformly from these 30 (the most frequent word is
#   1.04x the least), 10-99 words a document, uniform (quartiles 32/54/76);
# * 5% near copies: another document's text with " dup" appended; 0.16%
#   exact copies (8 texts twice);
# * lang: en 41%, de 14%, es/fr/zh 15% each; source: ``src{doc_id % 20}``;
# * embeddings: 64-d unit vectors with no cluster structure (each label's
#   centroid has norm 0.06-0.07, what random directions give), labels 0-9
#   uniform, no near copies (nearest-neighbour cosine 0.33-0.60).
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)


def events(seed: int, n: int = 100_000, days: int = 30, users: int = 1_500) -> pa.Table:
    """Events table: time-ordered ``event_id``, ``ts`` uniform over
    ``days`` days from 2024-01-01, five event types, users spread evenly."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(0, days * DAY_US, n)) + START_US
    user = rng.integers(0, users, n)
    etype = np.asarray(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
    value = np.round(rng.gamma(2.0, 50.0, n), 2)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(user.astype(np.int64)),
            "event_type": pa.array(etype.tolist(), type=pa.string()),
            "value": pa.array(value),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()], type=pa.string()),
        }
    )


def documents(
    seed: int, n: int = 5_000, exact_share: float = 0.0016, near_share: float = 0.05
) -> pa.Table:
    """Documents table shaped like the reference corpus (see ``VOCAB``),
    with a stated share of exact copies and of near copies (another
    document's text with " dup" appended, each of a different document).
    Copies are shuffled among the originals, so a survivor is not always
    the lower id."""
    rng = np.random.default_rng(seed)
    n_exact, n_near = int(n * exact_share), int(n * near_share)
    n_base = n - n_exact - n_near
    vocab = np.asarray(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))].tolist())
        for _ in range(n_base)
    ]
    texts += [texts[i] for i in rng.integers(0, n_base, n_exact)]
    texts += [texts[i] + " dup" for i in rng.choice(n_base, n_near, replace=False)]
    texts = [texts[i] for i in rng.permutation(n)]
    lang = np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(lang.tolist(), type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def embeddings(seed: int, n: int = 2_000, dim: int = 64, labels: int = 10) -> pa.Table:
    """Embeddings table shaped like the reference corpus: unit vectors in
    random directions, ``label`` uniform over ``labels``."""
    rng = np.random.default_rng(seed)
    vec = rng.normal(0.0, 1.0, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec.astype(np.float32)), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, labels, n).astype(np.int32)),
        }
    )


def stats(tables: dict[str, pa.Table]) -> dict:
    """Row counts, user-key skew, duplicate shares and text shape of
    generated tables."""
    out: dict = {f"rows.{name}": t.num_rows for name, t in tables.items()}
    if "events" in tables:
        per_user = np.bincount(tables["events"].column("user_id").to_numpy())
        per_user = per_user[per_user > 0]
        out.update(
            {
                "events.users": int(per_user.size),
                "events.per_user_max": int(per_user.max()),
                "events.per_user_median": float(np.median(per_user)),
            }
        )
    if "documents" in tables:
        texts = tables["documents"].column("text").to_pylist()
        words = [t.split() for t in texts]
        out.update(
            {
                "documents.exact_dup_share": round(1 - len(set(texts)) / len(texts), 4),
                "documents.near_dup_share": round(sum(w[-1] == "dup" for w in words) / len(texts), 4),
                "documents.vocab": len({x for w in words for x in w}),
                "documents.words_median": float(np.median([len(w) for w in words])),
            }
        )
    return out


def write_sf_dir(sf_dir: str, tables: dict[str, pa.Table], table_names) -> None:
    """Write ``tables`` plus a one-row placeholder for every other name in
    ``table_names`` as ``<sf_dir>/<name>.parquet``."""
    os.makedirs(sf_dir, exist_ok=True)
    placeholder = pa.table({"placeholder": pa.array([0], type=pa.int64())})
    for name in table_names:
        pq.write_table(tables.get(name, placeholder), os.path.join(sf_dir, f"{name}.parquet"))
