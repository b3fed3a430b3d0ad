"""Seeded input generator for the graft feature-store benchmark.

Each workload family gets a directory of parquet inputs (testdata schema)
plus the answers the benchmark checks the program's outputs against. The
program itself only ever receives the parquet files; the answer files are
read by the benchmark harness.

    python3 perfbench/gen.py --kind offline --seed 1 --scale 1 --out DIR

Kinds:
  offline  events + customer (training_set)
  serve    precomputed features, vectors, probes, update stream
           (online_serve)
  corpus   documents with planted near-duplicate clusters (the dedup journey
           of traced training_set runs)

Same (kind, seed, scale) -> byte-identical inputs. A finished directory
holds a DONE stamp; generate() returns immediately when it exists.
"""
import argparse
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
DAY_US = 86_400_000_000

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENT_P = np.array([0.40, 0.20, 0.20, 0.10, 0.10])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _zipf_ids(rng, n_ids, size, a, hot_share):
    """Entity ids with Zipf(a) activity by id rank, plus one hot entity (id 0)
    taking `hot_share` of all rows. Ranks are not shuffled across seeds: which
    partition the heaviest entities hash to decides the slowest task, and
    that should not change with the seed."""
    w = 1.0 / np.arange(1, n_ids + 1, dtype=np.float64) ** a
    w /= w.sum()
    ids = rng.choice(n_ids, size=size, p=w)
    ids[rng.random(size) < hot_share] = 0
    return ids.astype(np.int64)


def _cents(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size) * 100.0) / 100.0


# ------------------------------------------------------------------ offline
def gen_offline(rng, scale, out):
    """events (~100k x scale rows, ~20 per entity, Zipf activity with one hot
    entity) and customer (one row per entity)."""
    n_events = int(100_000 * scale)
    n_users = max(10, n_events // 20)
    user = _zipf_ids(rng, n_users, n_events, a=0.6, hot_share=0.02)
    ts = np.sort(T0_US + rng.integers(0, 30 * DAY_US, n_events))
    etype = EVENT_TYPES[rng.choice(len(EVENT_TYPES), n_events, p=EVENT_P)]
    value = _cents(rng, 0.0, 100.0, n_events)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}")
    events = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(user),
        "event_type": pa.array(etype.astype(object), type=pa.string()),
        "value": pa.array(value),
        "props": pa.array(props.astype(object), type=pa.string()),
    })
    _write(events, os.path.join(out, "events.parquet"))

    cust = pa.table({
        "c_custkey": pa.array(np.arange(n_users, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_users)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_users).astype(np.int32)),
        "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, n_users)),
        "c_mktsegment": pa.array(
            np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
            [rng.integers(0, 5, n_users)].astype(object), type=pa.string()),
    })
    _write(cust, os.path.join(out, "customer.parquet"))

    # expected: latest click value per entity (ts desc, value desc) - the
    # materialization the benchmark loads into the online store
    click = etype == "click"
    u, t, v = user[click], ts[click], value[click]
    order = np.lexsort((v, t, u))  # by user, then ts, then value ascending
    u, t, v = u[order], t[order], v[order]
    last = np.r_[u[1:] != u[:-1], True]
    with open(os.path.join(out, "expected_latest_click.tsv"), "w") as f:
        for e, val in zip(u[last], v[last]):
            f.write(f"{e}\t{val!r}\n")
    return {"events": n_events, "entities": n_users,
            "purchases": int((etype == "purchase").sum()), "clicks": int(click.sum())}


# -------------------------------------------------------------------- serve
def _fmt_f32(x):
    return np.format_float_positional(np.float32(x), unique=True, trim="-")


def gen_serve(rng, scale, out):
    """Precomputed online features for ~100k x scale entities, a 64-d vector
    corpus (~20k x scale, clustered) with exact top-10 answers for probe
    vectors, and a timestamped update stream for the stream-fed feature."""
    n_ent = int(100_000 * scale)
    base_ts = T0_US // 1000 + rng.integers(0, 30 * 86_400_000, n_ent)  # epoch ms
    feats = pa.table({
        "entity": pa.array(np.arange(n_ent, dtype=np.int64)),
        "f_a": pa.array(_cents(rng, 0.0, 1000.0, n_ent)),
        "f_b": pa.array(_cents(rng, -50.0, 50.0, n_ent)),
        "f_c": pa.array(_cents(rng, 0.0, 1.0, n_ent)),
        "f_d": pa.array(_cents(rng, 0.0, 100.0, n_ent)),
        "f_d_ts": pa.array(base_ts.astype(np.int64) * 1000, type=pa.timestamp("us")),
    })
    _write(feats, os.path.join(out, "features.parquet"))
    # cents values print exactly with %.2f; the harness parses them as doubles
    cols = [feats.column(c).to_numpy() for c in ("f_a", "f_b", "f_c", "f_d")]
    np.savetxt(os.path.join(out, "features.tsv"),
               np.column_stack([np.arange(n_ent), *cols, base_ts]),
               fmt=["%d", "%.2f", "%.2f", "%.2f", "%.2f", "%d"], delimiter="\t")

    # vectors: clustered so that nearest-neighbour answers are non-trivial
    n_vec, dim, n_centers = int(20_000 * scale), 64, 200
    centers = rng.normal(0, 1, (n_centers, dim))
    assign = rng.integers(0, n_centers, n_vec)
    vecs = (centers[assign] + rng.normal(0, 0.35, (n_vec, dim))).astype(np.float32)
    _write(pa.table({
        "entity": pa.array(np.arange(n_vec, dtype=np.int64)),
        "vector": pa.array(list(vecs), type=pa.list_(pa.float32())),
    }), os.path.join(out, "vectors.parquet"))

    n_probe = 256
    src = rng.integers(0, n_vec, n_probe)
    probes = (vecs[src].astype(np.float64) + rng.normal(0, 0.2, (n_probe, dim))).astype(np.float32)
    v64 = vecs.astype(np.float64)
    vn = v64 / np.linalg.norm(v64, axis=1, keepdims=True)
    with open(os.path.join(out, "probes.tsv"), "w") as f:
        for p in probes:
            p64 = p.astype(np.float64)
            sims = vn @ (p64 / np.linalg.norm(p64))
            top = np.lexsort((np.arange(n_vec), -sims))[:10]
            f.write(",".join(_fmt_f32(x) for x in p) + "\t"
                    + ",".join(str(i) for i in top) + "\t"
                    + ",".join(repr(float(sims[i])) for i in top) + "\n")

    # update stream for f_d: files of rows (entity, value, ts) with ts after
    # every base value; one marker row per file on a reserved entity with a
    # value no other row carries. Rows inside a file may be out of order, and
    # some arrive late (older than the entity's previous update).
    n_files, rows_per_file = 400, 50
    stream_t0 = (T0_US // 1000 + 31 * 86_400_000)
    markers = np.arange(n_ent - n_files, n_ent, dtype=np.int64)  # last n_files entities
    upd_dir = os.path.join(out, "updates")
    os.makedirs(upd_dir, exist_ok=True)
    upd_tsv = open(os.path.join(out, "updates.tsv"), "w")
    all_ents = _zipf_ids(rng, n_ent - n_files, n_files * (rows_per_file - 1), a=0.8,
                         hot_share=0.05).reshape(n_files, rows_per_file - 1)
    for i in range(n_files):
        ents = all_ents[i]
        ts_ms = stream_t0 + i * 1000 + rng.integers(0, 1000, rows_per_file - 1)
        late = rng.random(rows_per_file - 1) < 0.1
        ts_ms[late] -= 5000
        vals = _cents(rng, 0.0, 100.0, rows_per_file - 1)
        ents = np.r_[ents, markers[i]]
        ts_ms = np.r_[ts_ms, stream_t0 + i * 1000 + 999]
        vals = np.r_[vals, 1000.0 + i + 0.25]
        _write(pa.table({
            "entity": pa.array(ents),
            "value": pa.array(vals),
            "ts": pa.array(ts_ms.astype(np.int64) * 1000, type=pa.timestamp("us", tz="UTC")),
        }), os.path.join(upd_dir, f"part-{i:05d}.parquet"))
        for e, v, t in zip(ents, vals, ts_ms):
            upd_tsv.write(f"{i}\t{e}\t{float(v)!r}\t{t}\n")
    upd_tsv.close()
    return {"entities": n_ent, "vectors": n_vec, "probes": n_probe,
            "update_files": n_files, "rows_per_file": rows_per_file,
            "first_marker": int(markers[0])}


# ------------------------------------------------------------------- corpus
def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = rng.integers(3, 9)
        words.add("".join(letters[rng.integers(0, 26, k)]))
    return np.array(sorted(words))


def gen_corpus(rng, scale, out):
    """~20k x scale documents of 15-35 words. Planted near-duplicate clusters
    (sizes 2-50, members are light edits of one original) cover ~20% of
    documents, with known membership; one boilerplate block shared by ~3% of
    documents, which makes hot LSH band
    buckets without making those documents near-duplicates."""
    n_docs = int(20_000 * scale)
    # a small vocabulary, like real text, bounds the distinct 5-character
    # shingles (the oracle's replay cost grows with them)
    vocab = _vocab(rng, 60)
    zw = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    zw /= zw.sum()

    def fresh():
        return list(vocab[rng.choice(len(vocab), rng.integers(15, 35), p=zw)])

    def edit(words):
        w = list(words)
        for _ in range(max(1, len(w) // 25)):
            w[rng.integers(0, len(w))] = vocab[rng.integers(0, len(vocab))]
        return w

    texts, cluster_of = [], []
    cid = 0
    planted_docs = int(n_docs * 0.2)
    # cluster sizes follow a fixed schedule, so every seed plants the same
    # cluster shapes (the closure's work depends on them); contents vary
    sizes = [2, 3, 2, 5, 2, 8, 3, 12, 2, 20, 4, 50]
    while len(texts) < planted_docs:
        size = sizes[cid % len(sizes)]
        size = min(size, planted_docs - len(texts)) if planted_docs - len(texts) >= 2 else 2
        base = fresh()
        for _ in range(size):
            texts.append(edit(base))
            cluster_of.append(cid)
        cid += 1
    while len(texts) < n_docs:
        texts.append(fresh())
        cluster_of.append(-1)

    boiler = list(vocab[rng.choice(len(vocab), 20)])
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    cluster_of = np.array(cluster_of)[order]
    has_boiler = rng.permutation(len(texts)) < int(0.03 * len(texts))
    docs = []
    for words, b in zip(texts, has_boiler):
        docs.append(" ".join(words + boiler) if b else " ".join(words))

    _write(pa.table({
        "doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
        "text": pa.array(docs),
        "lang": pa.array(["en"] * len(docs)),
        "source": pa.array([f"src{i % 7}" for i in range(len(docs))]),
        "n_chars": pa.array(np.array([len(d) for d in docs], dtype=np.int64)),
    }), os.path.join(out, "documents.parquet"))

    pairs = 0
    with open(os.path.join(out, "planted_clusters.tsv"), "w") as f:
        members = {}
        for doc, c in enumerate(cluster_of):
            if c >= 0:
                members.setdefault(int(c), []).append(doc)
        for c in sorted(members):
            m = members[c]
            pairs += len(m) * (len(m) - 1) // 2
            f.write(",".join(map(str, m)) + "\n")
    return {"documents": len(docs), "planted_clusters": cid, "planted_pairs": pairs,
            "boilerplate_docs": int(has_boiler.sum())}


GENERATORS = {"offline": gen_offline, "serve": gen_serve, "corpus": gen_corpus}


def generate(kind, seed, scale, root):
    """Generate (or reuse) the inputs for (kind, seed, scale) under `root`.
    Returns (directory, info dict, generation seconds - 0 when cached).
    The cache key includes this file's digest: a changed generator never
    reuses old inputs."""
    with open(os.path.abspath(__file__), "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:8]
    out = os.path.join(root, f"{kind}-seed{seed}-scale{scale:g}-{version}")
    stamp = os.path.join(out, "DONE")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return out, json.load(f), 0.0
    t = time.perf_counter()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one stream per (kind, seed): inputs do not depend on generation order
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(kind)])
    info = GENERATORS[kind](rng, scale, tmp)
    info.update(kind=kind, seed=seed, scale=scale)
    with open(os.path.join(tmp, "DONE"), "w") as f:
        json.dump(info, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, info, time.perf_counter() - t


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--kind", choices=sorted(GENERATORS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    d, info, s = generate(a.kind, a.seed, a.scale, a.out)
    print(json.dumps({"dir": d, "gen_s": s, **info}))


if __name__ == "__main__":
    main()
