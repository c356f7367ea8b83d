"""Seeded input generators for the perfbench workloads, with planted truth.

Each generator writes its inputs as Parquet files under <out>/input and the
truth the benchmark checks against to <out>/truth.json (column lists), then a
manifest.json holding the sizes, the planted counts and a SHA-256 digest of
the logical input content (independent of how the rows are split into
files). The same seed always yields the same digest. The engine only ever
sees <out>/input.

Usage: python3 perfbench/gen.py --workload <name> --seed <n> --out <dir> --files <n>
"""
import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_NS = 86_400 * 10**9
MIN_NS = 60 * 10**9
T0_NS = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z

# panel_forecast: per-key ARMA(1,1) with GARCH(1,1) innovations, observed at
# irregular intra-day times with whole-day gaps and NaN readings.
PANEL_KEYS = 600
PANEL_DAYS = 120        # history length in days
PANEL_HORIZON = 7       # held-out days the forecast is scored on
PANEL_GAP_SHARE = 0.10  # share of interior days with no observation at all
PANEL_NAN_SHARE = 0.05  # share of extra intra-day readings that are NaN
PANEL_MATRIX_KEYS = 300

# corpus_dedup_search: documents with planted near-duplicate clusters, and
# clustered embeddings with held-out queries.
CORPUS_DOCS = 8000
CORPUS_DUP_SHARE = 0.25
CORPUS_VOCAB = 6000
EMB_CORPUS = 4000
EMB_QUERIES = 500
EMB_DIM = 64
EMB_CENTERS = 200
QUERY_ID_BASE = 1_000_000
KNN_K = 10
JACCARD_THRESHOLD = 0.7
SHINGLE_K = 3

# The panel's stream stage: events replayed one file per micro-batch.
STREAM_FILES = 8
STREAM_EVENTS_PER_FILE = 1000
STREAM_KEYS = 64
STREAM_FILE_SPAN_NS = 5 * MIN_NS  # event-time span covered by one file
STREAM_OOO_SHARE = 0.10           # on-time but from the previous file's span
STREAM_LATE_SHARE = 0.02          # far behind the watermark: must be dropped
STREAM_LATE_FROM_FILE = 2         # late events only once the watermark is set

STOP_WORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
              "was", "that", "it", "on", "for", "with", "as", "this"]


class Digest:
    def __init__(self):
        self.h = hashlib.sha256()

    def add(self, *arrays):
        for a in arrays:
            a = np.ascontiguousarray(a)
            self.h.update(str(a.dtype).encode())
            self.h.update(a.tobytes())

    def add_strings(self, strings):
        for s in strings:
            self.h.update(s.encode("utf-8"))
            self.h.update(b"\x00")

    def hexdigest(self):
        return self.h.hexdigest()


def write_files(table, directory, n_files):
    """Split `table` into `n_files` Parquet files of near-equal row counts."""
    os.makedirs(directory, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(np.int64)
    for i in range(n_files):
        part = table.slice(int(bounds[i]), int(bounds[i + 1] - bounds[i]))
        pq.write_table(part, os.path.join(directory, f"part-{i:05d}.parquet"))


# ---------------------------------------------------------------- panel

def gen_panel(rng, out, n_files, truth):
    k, d, h = PANEL_KEYS, PANEL_DAYS, PANEL_HORIZON
    mu = rng.uniform(5.0, 15.0, k)
    phi = rng.uniform(0.3, 0.8, k)
    theta = rng.uniform(-0.4, 0.4, k)
    omega = rng.uniform(0.05, 0.2, k)
    alpha = rng.uniform(0.05, 0.15, k)
    beta = rng.uniform(0.6, 0.8, k)

    burn = 50
    steps = burn + d + h
    z = rng.standard_normal((k, steps))
    y = np.empty((k, steps))
    e = np.empty((k, steps))
    var = omega / (1.0 - alpha - beta)
    e_prev = np.zeros(k)
    y_prev = mu.copy()
    for t in range(steps):
        var = omega + alpha * e_prev ** 2 + beta * var
        e[:, t] = np.sqrt(var) * z[:, t]
        y[:, t] = mu + phi * (y_prev - mu) + e[:, t] + theta * e_prev
        e_prev, y_prev = e[:, t], y[:, t]
    y, e = y[:, burn:], e[:, burn:]
    hist, held = y[:, :d], y[:, d:]

    # oracle forecast from the true parameters: the floor any fit can reach
    f1 = mu + phi * (hist[:, -1] - mu) + theta * e[:, d - 1]
    oracle = mu[:, None] + (phi[:, None] ** np.arange(h)[None, :]) * (f1 - mu)[:, None]

    present = rng.random((k, d)) >= PANEL_GAP_SHARE
    present[:, 0] = True
    present[:, -1] = True
    n_obs = np.where(present, rng.integers(1, 5, (k, d)), 0)
    total = int(n_obs.sum())
    key_idx = np.repeat(np.repeat(np.arange(k), d), n_obs.ravel())
    day_idx = np.repeat(np.tile(np.arange(d), k), n_obs.ravel())
    starts = np.cumsum(n_obs.ravel()) - n_obs.ravel()
    rank_in_day = np.arange(total) - np.repeat(starts, n_obs.ravel())
    first_of_day = rank_in_day == 0
    seconds = rng.integers(0, 86_400, total)
    ts = T0_NS + day_idx.astype(np.int64) * DAY_NS + seconds.astype(np.int64) * 10**9 \
        + rank_in_day.astype(np.int64)  # keeps readings of one day distinct
    value = hist[key_idx, day_idx].copy()
    nan_mask = (~first_of_day) & (rng.random(total) < PANEL_NAN_SHARE)
    value[nan_mask] = np.nan
    order = rng.permutation(total)  # arrival order is not time order
    keys = np.array([f"k{i:05d}" for i in range(k)])

    dig = Digest()
    dig.add(key_idx[order], ts[order], value[order])
    table = pa.table({"key": pa.array(keys[key_idx[order]]),
                      "ts_nanos": pa.array(ts[order], pa.int64()),
                      "value": pa.array(value[order], pa.float64())})
    write_files(table, os.path.join(out, "input", "obs"), n_files)

    truth["holdout"] = {"key": np.repeat(keys, h), "step": np.tile(np.arange(1, h + 1), k),
                        "value": held.ravel(), "oracle": oracle.ravel()}
    truth["params"] = {"key": keys, "mu": mu, "phi": phi, "theta": theta,
                       "omega": omega, "alpha": alpha, "beta": beta}
    summary = gen_stream(rng, out, dig, truth)
    summary.update({
        "keys": k, "days": d, "horizon": h, "observations": total,
        "nan_readings": int(nan_mask.sum()),
        "gap_days": int((~present).sum()),
        "matrix_keys": PANEL_MATRIX_KEYS,
        "oracle_mae": float(np.abs(oracle - held).mean()),
    })
    return dig.hexdigest(), summary


# ---------------------------------------------------------------- corpus

def make_vocab(rng, n):
    syl = np.array(["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa",
                    "qu", "ri", "do", "fe", "gu", "ha", "ji", "ko", "ly", "mo"])
    words = set()
    while len(words) < n:
        parts = rng.integers(0, len(syl), (n, 4))
        lens = rng.integers(2, 5, n)
        for row, ln in zip(parts, lens):
            words.add("".join(syl[row[:ln]]))
            if len(words) >= n:
                break
    return np.array(sorted(words))


def shingles(tokens):
    return {tuple(tokens[i:i + SHINGLE_K]) for i in range(len(tokens) - SHINGLE_K + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def gen_docs(rng, out, n_files, dig, truth):
    vocab = np.concatenate([np.array(STOP_WORDS), make_vocab(rng, CORPUS_VOCAB),
                            np.array([str(y) for y in range(1950, 2030)]),
                            np.array(["end.", "then,", "(note)", "item:"])])
    # Zipf-like weights: stop words most frequent, a long tail of content words
    w = 1.0 / (np.arange(len(vocab)) + 10.0)
    w /= w.sum()
    n_dup_docs = int(CORPUS_DOCS * CORPUS_DUP_SHARE)
    sizes = []
    while sum(sizes) < n_dup_docs:
        sizes.append(int(rng.integers(2, 6)))
    sizes[-1] -= sum(sizes) - n_dup_docs
    if sizes[-1] < 2:
        rest = sizes.pop()
        sizes[-1] += rest
    n_unique = CORPUS_DOCS - n_dup_docs

    def draw_docs(n):
        lengths = rng.integers(40, 90, n)
        tokens = rng.choice(len(vocab), int(lengths.sum()), p=w)
        return np.split(tokens, np.cumsum(lengths)[:-1])

    docs = draw_docs(n_unique)
    cluster_of = [-1] * n_unique
    # mostly light edits (above the threshold), some heavy (below it)
    edit_counts = rng.choice([0, 0, 1, 1, 1, 2, 6], n_dup_docs)
    replacements = iter(rng.choice(len(vocab), int(edit_counts.sum()), p=w))
    variant = 0
    for c, base in enumerate(draw_docs(len(sizes))):
        for _ in range(sizes[c]):
            v = base.copy()
            for pos in rng.integers(0, len(v), edit_counts[variant]):
                v[pos] = next(replacements)
            variant += 1
            docs.append(v)
            cluster_of.append(c)
    perm = rng.permutation(len(docs))  # doc_id order is unrelated to clusters
    doc_id = np.empty(len(docs), dtype=np.int64)
    doc_id[perm] = np.arange(len(docs), dtype=np.int64) + 1
    texts = [" ".join(vocab[t]) for t in docs]

    order = np.argsort(doc_id)
    dig.add(doc_id[order])
    dig.add_strings([texts[i] for i in order])
    table = pa.table({"doc_id": pa.array(doc_id[order], pa.int64()),
                      "text": pa.array([texts[i] for i in order])})
    write_files(table, os.path.join(out, "input", "docs"), n_files)

    cluster_of = np.array(cluster_of)
    members = {}
    for i in np.nonzero(cluster_of >= 0)[0]:
        members.setdefault(int(cluster_of[i]), []).append(int(i))
    ids_a, ids_b, jac = [], [], []
    for idx in members.values():
        for x in range(len(idx)):
            for y in range(x + 1, len(idx)):
                i, j = idx[x], idx[y]
                a, b = sorted((int(doc_id[i]), int(doc_id[j])))
                ids_a.append(a)
                ids_b.append(b)
                jac.append(jaccard(docs[i].tolist(), docs[j].tolist()))
    jac = np.array(jac)
    truth["planted_pairs"] = {"id_a": ids_a, "id_b": ids_b, "jaccard": jac}
    in_cluster = cluster_of >= 0
    truth["planted_clusters"] = {"doc_id": doc_id[in_cluster],
                                 "planted_cluster": cluster_of[in_cluster]}
    return {"docs": len(docs), "dup_docs": n_dup_docs, "clusters": len(sizes),
            "planted_pairs": len(jac),
            "pairs_at_threshold": int((jac >= JACCARD_THRESHOLD).sum()),
            "jaccard_threshold": JACCARD_THRESHOLD, "shingle_k": SHINGLE_K}


def gen_embeddings(rng, out, n_files, dig, truth):
    centers = rng.standard_normal((EMB_CENTERS, EMB_DIM))
    spread = rng.uniform(0.3, 0.6, EMB_CENTERS)

    def draw(n):
        c = rng.integers(0, EMB_CENTERS, n)
        return (centers[c] + spread[c, None] * rng.standard_normal((n, EMB_DIM))).astype(np.float32)

    corpus, queries = draw(EMB_CORPUS), draw(EMB_QUERIES)
    corpus_ids = np.arange(EMB_CORPUS, dtype=np.int64)
    query_ids = np.arange(EMB_QUERIES, dtype=np.int64) + QUERY_ID_BASE
    dig.add(corpus_ids, corpus, query_ids, queries)

    def table(ids, vecs):
        flat = pa.array(vecs.ravel(), pa.float32())
        offsets = pa.array(np.arange(0, vecs.size + 1, EMB_DIM, dtype=np.int32))
        return pa.table({"vec_id": pa.array(ids, pa.int64()),
                         "embedding": pa.ListArray.from_arrays(offsets, flat)})

    write_files(table(corpus_ids, corpus), os.path.join(out, "input", "vectors"), n_files)
    write_files(table(query_ids, queries), os.path.join(out, "input", "queries"), n_files)

    # exact top-k by cosine in float64 over the stored float32 values;
    # ties go to the smaller neighbour id, like the engine's ranking
    cn = corpus.astype(np.float64)
    cn /= np.linalg.norm(cn, axis=1, keepdims=True)
    qn = queries.astype(np.float64)
    qn /= np.linalg.norm(qn, axis=1, keepdims=True)
    q_out, r_out, n_out = [], [], []
    for s in range(0, EMB_QUERIES, 100):
        sims = qn[s:s + 100] @ cn.T
        top = np.argpartition(-sims, KNN_K, axis=1)[:, :KNN_K + 1]
        for row in range(top.shape[0]):
            cand = top[row]
            ranked = sorted(cand, key=lambda j: (-sims[row, j], j))[:KNN_K]
            for r, j in enumerate(ranked):
                q_out.append(int(query_ids[s + row]))
                r_out.append(r + 1)
                n_out.append(int(corpus_ids[j]))
    truth["knn"] = {"query_id": q_out, "rank": r_out, "neighbor_id": n_out}
    return {"vectors": EMB_CORPUS, "queries": EMB_QUERIES, "query_id_base": QUERY_ID_BASE,
            "dim": EMB_DIM,
            "centers": EMB_CENTERS, "k": KNN_K}


def gen_corpus(rng, out, n_files, truth):
    dig = Digest()
    summary = gen_docs(rng, out, n_files, dig, truth)
    summary.update(gen_embeddings(rng, out, n_files, dig, truth))
    return dig.hexdigest(), summary


# ---------------------------------------------------------------- panel stream stage

def gen_stream(rng, out, dig, truth):
    n = STREAM_FILES * STREAM_EVENTS_PER_FILE
    file_idx = np.repeat(np.arange(STREAM_FILES), STREAM_EVENTS_PER_FILE)
    win_start = T0_NS + file_idx.astype(np.int64) * STREAM_FILE_SPAN_NS
    u = rng.random(n)
    late = (file_idx >= STREAM_LATE_FROM_FILE) & (u < STREAM_LATE_SHARE)
    ooo = (file_idx > 0) & ~late & (u < STREAM_LATE_SHARE + STREAM_OOO_SHARE)
    key_idx = rng.integers(0, STREAM_KEYS, n)
    offset = rng.integers(0, STREAM_FILE_SPAN_NS // 1000, n).astype(np.int64) * 1000
    ts = win_start + offset
    ts[ooo] = win_start[ooo] - rng.integers(1, 2 * MIN_NS // 1000, int(ooo.sum())) * 1000
    # Spark counts watermark drops after partial aggregation, one per
    # (key, bucket) of a batch: late events of one file get distinct pairs
    for f in np.unique(file_idx[late]):
        rows = np.nonzero(late & (file_idx == f))[0]
        pairs = rng.choice(STREAM_KEYS * 30, len(rows), replace=False)
        key_idx[rows] = pairs % STREAM_KEYS
        ts[rows] = win_start[rows] - 90 * MIN_NS + (pairs // STREAM_KEYS) * MIN_NS + \
            rng.integers(0, MIN_NS // 1000, len(rows)) * 1000
    value = np.round(rng.standard_normal(n) * 10.0, 3)
    event_id = np.arange(n, dtype=np.int64)
    # events inside one file arrive in no particular order
    for f in range(STREAM_FILES):
        sl = slice(f * STREAM_EVENTS_PER_FILE, (f + 1) * STREAM_EVENTS_PER_FILE)
        p = rng.permutation(STREAM_EVENTS_PER_FILE) + f * STREAM_EVENTS_PER_FILE
        ts[sl], key_idx[sl], value[sl], event_id[sl], late[sl] = \
            ts[p], key_idx[p], value[p], event_id[p], late[p]

    dig.add(event_id, key_idx, ts, value)
    keys = np.array([f"s{i:02d}" for i in range(STREAM_KEYS)])
    sdir = os.path.join(out, "input", "events")
    os.makedirs(sdir, exist_ok=True)
    mtime0 = 1_700_000_000
    for f in range(STREAM_FILES):
        sl = slice(f * STREAM_EVENTS_PER_FILE, (f + 1) * STREAM_EVENTS_PER_FILE)
        path = os.path.join(sdir, f"events-{f:05d}.parquet")
        pq.write_table(pa.table({
            "event_id": pa.array(event_id[sl], pa.int64()),
            "key": pa.array(keys[key_idx[sl]]),
            "ts": pa.array(ts[sl] // 1000, pa.timestamp("us", tz="UTC")),
            "value": pa.array(value[sl], pa.float64())}), path)
        # the file source replays files oldest first: pin the order
        os.utime(path, (mtime0 + f, mtime0 + f))
    truth["late_events"] = {"event_id": event_id[late]}
    return {"stream_files": STREAM_FILES, "stream_events": n, "stream_keys": STREAM_KEYS,
                             "late_events": int(late.sum()),
                             "out_of_order_events": int(ooo.sum()),
                             "bucket_width_us": 60_000_000,
                             "watermark": "10 minutes"}


GENERATORS = {"panel_forecast": gen_panel, "corpus_dedup_search": gen_corpus}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--files", type=int, required=True)
    a = ap.parse_args()
    rng = np.random.default_rng([a.seed, sorted(GENERATORS).index(a.workload)])
    truth = {}
    digest, summary = GENERATORS[a.workload](rng, a.out, a.files, truth)
    with open(os.path.join(a.out, "truth.json"), "w") as f:
        json.dump({name: {c: np.asarray(v).tolist() for c, v in cols.items()}
                   for name, cols in truth.items()}, f)
    manifest = {"workload": a.workload, "seed": a.seed, "input_digest": digest,
                "files_per_input": a.files, "truth": summary}
    tmp = os.path.join(a.out, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(a.out, "manifest.json"))


if __name__ == "__main__":
    sys.exit(main())
