"""Seeded input generator for the benchmark workloads.

Every input is derived from the workload name and `--seed` alone, so
the same seed always yields byte-identical parquet files. The schemas
follow the repository's synthetic star schema (`events`, `supplier`,
`documents`, `embeddings`); the program under test only ever sees the
generated directory.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
# word list of the synthetic document corpus
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
DIM, CLUSTERS = 64, 10
BASE_TS_US = 1704067200 * 10**6          # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86400 * 10**6             # through 2024-01-30 23:59:59
QUERY_ID_BASE = 10_000_000               # query ids never collide with vec ids
DAY_ID_STRIDE = 1_000_000                # day d batch ids: (d + 1) * stride + i

WORKLOAD_TAG = {"daily_dag": 1, "curation_week": 2}


def _rng(workload, seed):
    return np.random.default_rng([WORKLOAD_TAG[workload], seed])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _texts(rng, n, low_quality_frac=0.04):
    """`n` documents of 10-100 vocabulary words; a small share is too
    short to pass the program's quality gate."""
    lens = rng.integers(10, 101, size=n)
    short = rng.random(n) < low_quality_frac
    lens[short] = rng.integers(3, 10, size=int(short.sum()))
    words = rng.integers(0, len(VOCAB), size=int(lens.sum()))
    out, at = [], 0
    for n_words in lens:
        out.append(" ".join(VOCAB[words[at:at + n_words]]))
        at += n_words
    return out


def _perturb(rng, text):
    """A near-duplicate: one small word-level edit, kept at >= 10 words."""
    words = text.split(" ")
    op = rng.integers(0, 3)
    if op == 0:
        words[rng.integers(0, len(words))] = VOCAB[rng.integers(0, len(VOCAB))]
    elif op == 1:
        words += list(VOCAB[rng.integers(0, len(VOCAB), size=2)])
    elif len(words) > 10:
        del words[rng.integers(0, len(words))]
    else:
        words.append(VOCAB[rng.integers(0, len(VOCAB))])
    return " ".join(words)


def gen_daily(seed, out, n_events, n_users):
    """One day's DAG input: `events` with Zipf-like user activity over
    the 30-day base span (so the 28-day as-of window stays populated)
    and the `supplier` channel dimension."""
    rng = _rng("daily_dag", seed)
    ranks = np.arange(1, n_users + 1)
    weights = 1.0 / ranks ** 1.1
    user_of_rank = rng.permutation(n_users).astype(np.int64)
    users = user_of_rank[rng.choice(n_users, size=n_events, p=weights / weights.sum())]
    ts = np.sort(BASE_TS_US + rng.integers(0, SPAN_US, size=n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, size=n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)]),
    })
    n_sup = 1000
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_sup, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_sup)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_sup).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=n_sup), 2)),
    })
    _write(events, f"{out}/events.parquet")
    _write(supplier, f"{out}/supplier.parquet")


def _vectors(rng, n):
    """`n` unit embeddings around CLUSTERS random centres."""
    centers = rng.normal(size=(CLUSTERS, DIM))
    label = rng.integers(0, CLUSTERS, size=n)
    vecs = centers[label] + rng.normal(scale=0.9, size=(n, DIM))
    return (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32), label


def gen_curation(seed, out, n_base, n_days, batch_size, planted_frac,
                 lookups_per_day, n_vecs, anns_per_day):
    """Base corpus plus `n_days` daily batches, and the embedding corpus the
    reader queries. A `planted_frac` share of each batch is near-duplicates
    of corpus or earlier-day docs, the rest fresh; `truth_<d>.parquet`
    (benchmark-only) records which is which. `lookups_<d>.txt` lists the
    day's point-lookup ids: half absorbed that day; of the rest, 70 % older
    and 30 % never issued. `queries.parquet` holds perturbed-embedding ANN
    queries; day -1 is the reader's warm-up."""
    rng = _rng("curation_week", seed)
    pool_ids = list(range(n_base))
    pool_text = _texts(rng, n_base)
    _write(pa.table({"doc_id": pa.array(np.arange(n_base, dtype=np.int64)),
                     "text": pa.array(pool_text)}), f"{out}/documents.parquet")
    for d in range(n_days):
        ids = (d + 1) * DAY_ID_STRIDE + np.arange(batch_size, dtype=np.int64)
        n_planted = int(round(batch_size * planted_frac))
        texts = _texts(rng, batch_size)
        kind = np.zeros(batch_size, dtype=np.int8)
        src = np.full(batch_size, -1, dtype=np.int64)
        for s in rng.choice(batch_size, size=n_planted, replace=False):
            # from day 1 on, half the plants copy an earlier day's doc
            if d > 0 and rng.random() < 0.5:
                j = int(rng.integers(n_base, len(pool_ids)))
            else:
                j = int(rng.integers(0, n_base))
            texts[s] = _perturb(rng, pool_text[j])
            kind[s], src[s] = 1, pool_ids[j]
        _write(pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)}),
               f"{out}/batch_{d}.parquet")
        _write(pa.table({"doc_id": pa.array(ids), "planted": pa.array(kind),
                         "src_id": pa.array(src)}), f"{out}/truth_{d}.parquet")
        older = np.array(pool_ids)
        pool_ids += ids.tolist()
        pool_text += texts
        today = rng.choice(ids, size=lookups_per_day // 2, replace=False)
        n_old = lookups_per_day - len(today)
        never = (d + 1) * DAY_ID_STRIDE + batch_size + rng.integers(0, 10**5, size=n_old)
        # a fixed mix, so every seed times the same kinds of lookup
        old = np.where(np.arange(n_old) < round(0.7 * n_old),
                       older[rng.integers(0, len(older), size=n_old)], never)
        with open(f"{out}/lookups_{d}.txt", "w") as f:
            f.write("\n".join(str(int(i)) for i in np.concatenate([today, old])) + "\n")
    vecs, label = _vectors(rng, n_vecs)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }), f"{out}/embeddings.parquet")
    n_q = (n_days + 1) * anns_per_day
    qv = vecs[rng.integers(0, n_vecs, size=n_q)].astype(np.float64)
    qv += rng.normal(scale=0.05, size=qv.shape)
    _write(pa.table({
        "q_id": pa.array(QUERY_ID_BASE + np.arange(n_q, dtype=np.int64)),
        "qv": pa.array(list(qv), pa.list_(pa.float64())),
        "day": pa.array(np.repeat(np.arange(-1, n_days), anns_per_day).astype(np.int32)),
    }), f"{out}/queries.parquet")


def generate(workload, seed, out, sizes):
    os.makedirs(out, exist_ok=True)
    if workload == "daily_dag":
        gen_daily(seed, out, **sizes)
    elif workload == "curation_week":
        gen_curation(seed, out, **sizes)
    else:
        raise ValueError(f"unknown workload {workload}")
