"""Seeded input generator for the pipeline benchmark.

`generate(workload, seed, out, inp)` writes the three tables the two
pipelines read (`events`, `documents`, `embeddings`, in the schemas of
FIXTURES.md section B), the ETL refresh snapshots, and the answers the output
checks compare against. The same (workload, seed) gives byte-identical files;
the program under test receives only these files.

Planted properties (sizes per workload are in SIZES):
  - ETL refresh snapshots re-extract a share of the run keys, drawn with a
    weight rising towards the newest keys (recent runs change most), from
    REFRESH_RESIDUES of the ZONE_BUCKETS id residues: a refresh pulls a few
    source shards, so the merge rewrites only those compacted-zone buckets.
  - Documents form near-duplicate families: a share of documents copies an
    earlier original document with word-substitution edit rates 0 (exact
    copy), 5%, 15% and 30%, so exact dedup, the J >= 0.8 ingest probes and
    the Jaccard >= 0.3 pair build each have work at their own threshold.
    Families are stars around their original, which keeps clusters small.
  - Test-split documents copy a 20-word span of a same-language train
    document (eval -> train contamination).
  - The arriving batch (the test split, about 10% of ids) shares families
    with the corpus, because family parents are drawn from all earlier ids.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Each size is about the largest the run-time budget leaves room for: 70 runs
# in 3420 s, about 45 s a run. On a 4-vCPU host, before run.py mapped a
# class archive, a whole etl_lake run took 40 s at 20k events, 45 s at 60k
# and 57 s at 160k. The llm_corpus Spark pass took 8.7 s at both 300 and 900
# documents, but the exact-pair DuckDB oracle behind its checks grew from
# 8 s to 41 s. An llm_ingest run took 57 s as sized here and 78 s at three
# times the size.
SIZES = {
    "etl_lake": dict(events=20000, docs=200, vecs=200, refreshes=2,
                     refresh_share=0.05),
    "llm_corpus": dict(events=500, docs=300, vecs=200, refreshes=0,
                       refresh_share=0.0),
    "llm_ingest": dict(events=500, docs=300, vecs=800, refreshes=0,
                       refresh_share=0.0),
}

EDIT_RATES = (0.0, 0.05, 0.15, 0.30)
VARIANT_SHARE = 0.30
LOW_QUALITY_SHARE = 0.06
CONTAMINATED_SHARE = 0.30
CONTAMINATION_SPAN = 20
RECENCY_SKEW = 3.0
# The compacted zone buckets runs on pmod(id, 16). Each snapshot's keys fall
# in 4 of those residues, a different seeded draw per snapshot, so an
# incremental merge rewrites a quarter of the buckets and a full rewrite
# shows as a touched ratio of 1.
ZONE_BUCKETS = 16
REFRESH_RESIDUES = 4
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
LANGS = ("en", "es", "zh", "de", "fr")
LANG_WEIGHTS = (0.4, 0.15, 0.15, 0.15, 0.15)
VOCAB = (
    "the a of agg batch big column customer data dup fast filter group hash "
    "join key line merge order part query row scan slow small sort spark "
    "stream table value vector window index page raw zone lake shard token "
    "train test eval model score rank cache disk node task stage job plan "
    "tree graph edge cluster bucket probe sample mix weight snapshot").split()
DIM = 64


def md5_bucket(key):
    """First 32 md5 bits of `key`, mod 100 (the engine's split recipe)."""
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % 100


def _write(table, path):
    pq.write_table(table, path, compression="snappy", store_schema=False)


def _events(rng, n):
    ts = 1704067200_000000 + np.cumsum(rng.integers(1, 60_000_000, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(10, n // 50), n).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0, 500, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    }


def _documents(rng, n):
    word_p = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.6
    word_p /= word_p.sum()
    words, langs, stats = [], [], dict(fresh=0, low_quality=0,
                                       contaminated=0, batch_with_family=0)
    stats.update({"variant_rate_%g" % r: 0 for r in EDIT_RATES})
    parent_of, originals = {}, []
    for i in range(n):
        u = rng.random()
        if originals and u < VARIANT_SHARE:
            p = originals[int(rng.integers(0, len(originals)))]
            rate = EDIT_RATES[int(rng.integers(0, len(EDIT_RATES)))]
            w = [VOCAB[int(rng.integers(0, len(VOCAB)))]
                 if rng.random() < rate else x for x in words[p]]
            words.append(w)
            langs.append(langs[p])
            parent_of[i] = p
            stats["variant_rate_%g" % rate] += 1
            continue
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_WEIGHTS))]
        if u < VARIANT_SHARE + LOW_QUALITY_SHARE:
            kind = int(rng.integers(0, 3))
            if kind == 0:  # too short
                w = list(rng.choice(VOCAB, int(rng.integers(3, 9)), p=word_p))
            elif kind == 1:  # one bigram repeated
                a, b = rng.choice(VOCAB[3:], 2, replace=False)
                w = [a, b] * int(rng.integers(8, 20))
            else:  # no stopword
                w = list(rng.choice(VOCAB[3:], int(rng.integers(15, 60))))
            stats["low_quality"] += 1
        else:
            w = list(rng.choice(VOCAB, int(rng.integers(12, 60)), p=word_p))
            stats["fresh"] += 1
            originals.append(i)
        words.append([str(x) for x in w])
        langs.append(lang)
    buckets = [md5_bucket(str(i)) for i in range(n)]
    train = [i for i in range(n) if buckets[i] < 80]
    for i in range(n):
        if buckets[i] >= 90:
            root = parent_of.get(i, i)
            if root != i and buckets[root] < 90:
                stats["batch_with_family"] += 1
            if rng.random() < CONTAMINATED_SHARE:
                same = [t for t in train if langs[t] == langs[i]]
                if not same:
                    continue
                src = words[same[int(rng.integers(0, len(same)))]]
                span = src[:CONTAMINATION_SPAN]
                at = int(rng.integers(0, max(1, len(words[i]) - len(span))))
                words[i] = words[i][:at] + span + words[i][at + len(span):]
                stats["contaminated"] += 1
    text = [" ".join(w) for w in words]
    stats["arriving_batch"] = sum(b >= 90 for b in buckets)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": langs,
        "source": ["src%d" % s for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }, stats


def _embeddings(rng, n):
    centroids = rng.normal(0, 1, (10, DIM))
    label = rng.integers(0, 10, n)
    vec = (centroids[label] + rng.normal(0, 0.8, (n, DIM))) / 8
    return vec.astype(np.float32), label.astype(np.int32)


def exact_ann_topk(vec, k=5):
    """Exact cosine top-k of each arriving vector over the corpus vectors,
    ties to the lower id (the incremental ANN query's contract)."""
    ids = np.arange(len(vec))
    batch = np.array([md5_bucket("annb:%d" % i) >= 90 for i in ids])
    v = vec.astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    corpus = ids[~batch]
    pairs = []
    for q in ids[batch]:
        s = v[corpus] @ v[q]
        order = np.lexsort((corpus, -s))[:k]
        pairs.extend((int(q), int(corpus[j])) for j in order)
    return pairs


def _refreshes(rng, ev, n_snap, share):
    """Refresh snapshots: page files in the raw-zone layout plus the
    latest-per-key answer after the backfill and after each snapshot."""
    n = len(ev["event_id"])
    value = np.where(ev["event_id"] % 3 == 0, ev["value"] + 1000.0, ev["value"])
    answers = [value.copy()]
    recency = np.exp(RECENCY_SKEW * np.arange(n) / n)
    snaps = []
    for k in range(1, n_snap + 1):
        shards = rng.choice(ZONE_BUCKETS, REFRESH_RESIDUES, replace=False)
        weight = np.where(np.isin(np.arange(n) % ZONE_BUCKETS, shards), recency, 0.0)
        keys = np.sort(rng.choice(n, int(n * share), replace=False,
                                  p=weight / weight.sum()))
        new = np.round(rng.uniform(0, 500, len(keys)), 2) + 2000.0 * k
        value[keys] = new
        answers.append(value.copy())
        files = {}
        for t in EVENT_TYPES:
            runs = [{"id": int(i), "type": t, "value": float(value[i]),
                     "user": {"id": int(ev["user_id"][i])}}
                    for i in keys if ev["event_type"][i] == t]
            lines = [json.dumps({"workflow_runs": runs[j:j + 100]})
                     for j in range(0, len(runs), 100)]
            if lines:
                files[t] = "\n".join(lines) + "\n"
        snaps.append(("202401%02d-000000Z" % (2 + k), files, len(keys)))
    return snaps, answers


def generate(workload, seed, out, inp):
    """Write the inputs and answers of (workload, seed): the three tables
    under `inp`, the ETL snapshots under `<out>/refresh/<k>/` and the
    answers under `<out>/expect/`. Returns the planted-property summary."""
    size = SIZES[workload]
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    exp = os.path.join(out, "expect")
    os.makedirs(inp, exist_ok=True)
    os.makedirs(exp, exist_ok=True)
    ev = _events(rng, size["events"])
    _write(pa.table(ev), os.path.join(inp, "events.parquet"))
    docs, stats = _documents(rng, size["docs"])
    _write(pa.table(docs), os.path.join(inp, "documents.parquet"))
    vec, label = _embeddings(rng, size["vecs"])
    _write(pa.table({
        "vec_id": np.arange(len(vec), dtype=np.int64),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": label}), os.path.join(inp, "embeddings.parquet"))
    snaps, answers = _refreshes(rng, ev, size["refreshes"],
                                size["refresh_share"])
    for k, (at, files, _) in enumerate(snaps, start=1):
        for repo, body in files.items():
            d = os.path.join(out, "refresh", str(k), "repo=" + repo,
                             "extracted_at=" + at)
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "part-00000-pb.txt"), "w") as f:
                f.write(body)
    for k, value in enumerate(answers):
        _write(pa.table({"id": ev["event_id"], "user_id": ev["user_id"],
                         "event_type": ev["event_type"], "value": value}),
               os.path.join(exp, "etl_%d.parquet" % k))
    if workload == "llm_ingest":
        q, n = zip(*exact_ann_topk(vec))
        _write(pa.table({"query_id": np.array(q, dtype=np.int64),
                         "neighbor_id": np.array(n, dtype=np.int64)}),
               os.path.join(exp, "ann_exact.parquet"))
    stats.update(events=size["events"], documents=size["docs"],
                 embeddings=size["vecs"],
                 refresh_keys=[s[2] for s in snaps])
    return stats
