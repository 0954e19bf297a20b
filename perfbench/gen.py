"""Seeded inputs for the graft benchmark.

Everything the library receives is generated here from the workload
seed: the three source tables (`documents`, `embeddings`, `events`,
the shapes of the sf0.1 test tables) and the workload plan (queries,
append batches, delete ids). The same seed always gives the same
inputs; the library never sees the seed itself.

Corpus shape (matching the sf0.1 `documents` table): 5,000 docs of
10-100 words drawn uniformly from 30 common terms, so each common term
sits in ~76 % of docs, plus the one rare term `dup` in 5 % of docs.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COMMON_TERMS = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch"]
RARE_TERM = "dup"
RARE_SHARE = 0.05
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.14, 0.15]
N_SOURCES = 20


def doc_rows(rng, ids):
    """One row dict per id: the `documents` columns."""
    rows = []
    for doc_id in ids:
        words = rng.choices(COMMON_TERMS, k=rng.randint(10, 100))
        if rng.random() < RARE_SHARE:
            words.insert(rng.randrange(len(words) + 1), RARE_TERM)
        text = " ".join(words)
        rows.append({
            "doc_id": doc_id,
            "text": text,
            "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
            "source": f"src{doc_id % N_SOURCES}",
            "n_chars": len(text),
        })
    return rows


def documents_table(rows):
    return pa.table({
        "doc_id": pa.array([r["doc_id"] for r in rows], pa.int64()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
        "source": pa.array([r["source"] for r in rows], pa.string()),
        "n_chars": pa.array([r["n_chars"] for r in rows], pa.int64()),
    })


def source_table(rows, batch):
    """An F1-shaped (repo, path, commit, lang, content) append batch.

    Paths carry the batch number and the doc id, so every appended key
    is distinct from every other appended key and from the base corpus
    (whose paths are `src/<source>/<id>.<lang>`).
    """
    return pa.table({
        "repo": pa.array([f"repo-{r['doc_id'] % 13}" for r in rows]),
        "path": pa.array([f"new/b{batch}/{r['doc_id']}.{r['lang']}"
                          for r in rows]),
        "commit": pa.array([f"{(r['doc_id'] * 2654435761) % (1 << 48):012x}"
                            for r in rows]),
        "lang": pa.array([r["lang"] for r in rows]),
        "content": pa.array([r["text"] for r in rows]),
    })


def embeddings_table(seed, n=2000, dim=64, labels=10):
    """Unit-norm vectors around `labels` random centres."""
    g = np.random.default_rng(seed)
    centres = g.normal(size=(labels, dim))
    label = g.integers(0, labels, size=n)
    vecs = centres[label] + g.normal(scale=1.5, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array([v.astype(np.float32) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def events_table(seed, n=100_000, days=30, users=1500):
    g = np.random.default_rng(seed + 1)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(g.integers(0, days * 86_400_000_000, size=n))
    types = np.array(["signup", "click", "error", "view", "purchase"])
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(g.integers(0, users, size=n), pa.int64()),
        "event_type": pa.array(types[g.integers(0, len(types), size=n)]),
        "value": pa.array(np.round(g.exponential(60.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in g.integers(0, 100, size=n)]),
    })


def queries(rng, count, shape=0):
    """`count` (query_id, terms) pairs of distinct corpus terms. The
    shapes are fixed, so that seeds change which terms a query holds but
    not how much work it is: query i has 2 + (shape + i) % 5 terms, and
    carries the rare term when shape + i is even."""
    out = []
    for i in range(count):
        k = shape + i
        n = 2 + k % 5
        if k % 2 == 0:
            terms = rng.sample(COMMON_TERMS, n - 1) + [RARE_TERM]
            rng.shuffle(terms)
        else:
            terms = rng.sample(COMMON_TERMS, n)
        out.append([1 + i, terms])
    return out


ROUND_READS = ["probe"] * 2 + ["batch", "sql"]


def exact_queries(rng, count):
    """`count` seeded exact single queries, each a one-query list, for
    the `index` workload's exact-query loop."""
    return [queries(rng, 1, shape=i) for i in range(count)]


def search_rounds(rng, rounds, batch_size=20):
    """Seeded reads for each round of the `index` workload: two w = 1
    single queries, one WAND batch and one SQL batch, in a seeded
    order."""
    out = []
    for _ in range(rounds):
        reads, seen = [], {}
        for kind in ROUND_READS:
            i = seen[kind] = seen.get(kind, -1) + 1
            qs = (queries(rng, batch_size) if kind in ("batch", "sql")
                  else queries(rng, 1, shape=i))
            reads.append({"kind": kind, "queries": qs})
        rng.shuffle(reads)
        out.append(reads)
    return out


def deletes(rng, n_docs, batches, per_batch):
    """Disjoint seeded delete batches. Batch b draws from the ids that
    are live when it runs: the base corpus and the b appended batches
    before it (append gives a batch the next `per_batch` ids, and
    nothing renumbers the working index), minus earlier deletes."""
    out, dead = [], set()
    for b in range(batches):
        live = [i for i in range(n_docs + b * per_batch) if i not in dead]
        picked = sorted(rng.sample(live, per_batch))
        dead.update(picked)
        out.append(picked)
    return out


def write_inputs(out_dir, seed, n_docs, plan):
    """Write the source tables under `out_dir/data` and the workload
    plan to `out_dir/plan.json`: 20 check queries, plus, if `plan` sizes
    rounds, the exact single queries, each round's reads, append batch
    (under `out_dir/appends/b<i>.parquet`) and delete ids."""
    rng = random.Random(seed)
    data = os.path.join(out_dir, "data")
    os.makedirs(data, exist_ok=True)
    pq.write_table(documents_table(doc_rows(rng, range(n_docs))),
                   os.path.join(data, "documents.parquet"))
    # the sf0.1 tables hold 2,000 embeddings and 100,000 events per
    # 5,000 docs; smaller corpora scale them down in step
    pq.write_table(embeddings_table(seed, n=n_docs * 2 // 5),
                   os.path.join(data, "embeddings.parquet"))
    pq.write_table(events_table(seed, n=n_docs * 20),
                   os.path.join(data, "events.parquet"))

    out = {"check_queries": queries(rng, 20)}
    if "rounds" in plan:
        rounds, per = plan["rounds"], plan["append_docs"]
        out["exact"] = exact_queries(rng, plan["exact_queries"])
        out["search"] = search_rounds(rng, rounds)
        out["maint_queries"] = queries(rng, plan["maint_queries"])
        app_dir = os.path.join(out_dir, "appends")
        os.makedirs(app_dir, exist_ok=True)
        out["appends"] = []
        for c in range(rounds):
            ids = range(n_docs + c * per, n_docs + (c + 1) * per)
            path = os.path.join(app_dir, f"b{c}.parquet")
            pq.write_table(source_table(doc_rows(rng, ids), c), path)
            out["appends"].append(path)
        out["deletes"] = deletes(rng, n_docs, rounds, plan["delete_docs"])
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(out, f)
    return out
