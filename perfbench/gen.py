"""Seeded input generators for the ingest and corpus workloads.

Each generator takes the seed as an argument, writes the workload's
inputs under `inputs_dir`, and writes the planted ground truth to
`truth_path` (JSON) beside the run's results. The same seed always gives
byte-identical inputs; the program under test only ever sees the inputs.

    python3 perfbench/gen.py ingest <seed> <inputs_dir> <truth_path>
    python3 perfbench/gen.py corpus <seed> <inputs_dir> <truth_path>
"""
import json
import os
import random
import sys
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- ingest

SOURCES = ["linkedin", "indeed", "glassdoor", "wellfound", "remoteok", "weworkremotely"]
# Fresh postings per (source, event hour) in every ordinary drop: skewed,
# and fixed so that every seed gives drains of the same shape. At 25+ rows
# per hour, each of the gate's 4 shuffle partitions writes a file into
# every bronze (source, hour) directory, so a drop always lands 48 files.
PER_SOURCE_HOUR = [60, 40, 30, 25, 25, 25]
SOURCE_WEIGHTS = [n / sum(PER_SOURCE_HOUR) for n in PER_SOURCE_HOUR]
DROPS = 4                # staging drops per run, drained one at a time
REPLAY_DROP = 2          # this drop re-delivers drop REPLAY_OF byte for byte
REPLAY_OF = 0
HOURS_PER_DROP = 2       # each drop spans this many event hours
FRESH_PER_DROP = HOURS_PER_DROP * sum(PER_SOURCE_HOUR)
EXACT_REDELIVERY = 0.08  # share of a drop: exact copies of earlier rows
VARIANTS = 0.06          # share of a drop: whitespace/case variants of earlier rows
INTRA_DUPS = 0.02        # share of a drop: exact copies of rows in the same drop
BASE_TIME = datetime(2024, 9, 2, 0, 0, 0)
TS_FMT = "%Y-%m-%dT%H:%M:%S.000Z"  # what Spark's JSON writer emits

TITLES = ["data engineer", "backend developer", "ml engineer", "analytics lead",
          "platform engineer", "site reliability engineer", "product analyst",
          "frontend developer", "security engineer", "research scientist"]
WORDS = ("spark kafka airflow python scala sql etl streaming batch lakehouse "
         "parquet warehouse dashboard pipeline cloud aws gcp azure docker "
         "kubernetes terraform latency throughput remote hybrid onsite senior "
         "junior contract fulltime benefits equity salary team growth mentor "
         "ownership testing review deploy monitor oncall schema model metric").split()


def _posting_content(rng, uid):
    body = " ".join(rng.choice(WORDS) for _ in range(rng.randint(30, 70)))
    doc = {"title": rng.choice(TITLES), "company": f"co{rng.randint(1, 400)}",
           "location": rng.choice(["remote", "berlin", "nyc", "london", "sf"]),
           "ref": uid, "description": body}
    return json.dumps(doc)


def _variant(rng, text):
    """A copy whose normalized fingerprint (lowercase, collapsed whitespace,
    trimmed) equals the original's, but whose bytes differ."""
    out = text.replace(" ", rng.choice(["  ", " \t", "\n "]), rng.randint(1, 4))
    out = out.upper() if rng.random() < 0.5 else out.title()
    return rng.choice(["", " ", "\n"]) + out + rng.choice([" ", "\t", "  \n"])


def _row(pid, content, source, ts):
    return {"posting_id": pid, "raw_content": content, "source": source,
            "extracted_at": ts.strftime(TS_FMT)}


def _write_jsonl(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True) + "\n")


def gen_ingest(seed, inputs_dir, truth_path):
    rng = random.Random(seed)
    os.makedirs(inputs_dir, exist_ok=True)
    fresh_all = []          # every distinct posting, in landing order
    drops = []
    per_drop_landed = []
    arrivals = 0
    for k in range(DROPS):
        if k == REPLAY_DROP:
            rows = list(drops[REPLAY_OF])
            drops.append(rows)
            per_drop_landed.append(0)
            arrivals += len(rows)
            continue
        fresh = []
        for h in range(HOURS_PER_DROP):
            for source, n in zip(SOURCES, PER_SOURCE_HOUR):
                for _ in range(n):
                    uid = f"s{seed}-d{k}-{len(fresh)}"
                    ts = BASE_TIME + timedelta(hours=k * HOURS_PER_DROP + h,
                                               seconds=rng.randrange(3600))
                    fresh.append(_row(f"p-{uid}", _posting_content(rng, uid), source, ts))
        rows = list(fresh)
        if fresh_all:
            for _ in range(int(FRESH_PER_DROP * EXACT_REDELIVERY)):
                rows.append(dict(rng.choice(fresh_all)))
            for j in range(int(FRESH_PER_DROP * VARIANTS)):
                orig = rng.choice(fresh_all)
                ts = BASE_TIME + timedelta(hours=k * HOURS_PER_DROP,
                                           seconds=rng.randrange(HOURS_PER_DROP * 3600))
                rows.append(_row(f"v-s{seed}-d{k}-{j}", _variant(rng, orig["raw_content"]),
                                 orig["source"], ts))
        for _ in range(int(FRESH_PER_DROP * INTRA_DUPS)):
            rows.append(dict(rng.choice(fresh)))
        rng.shuffle(rows)
        drops.append(rows)
        fresh_all.extend(fresh)
        per_drop_landed.append(len(fresh))
        arrivals += len(rows)
    for k, rows in enumerate(drops):
        _write_jsonl(os.path.join(inputs_dir, f"drop-{k:03d}.jsonl"), rows)

    # the drift monitor's reference window: same distribution, not ingested
    ref_rng = random.Random(seed * 7919 + 1)
    ref = [_row(f"r-{i}", _posting_content(ref_rng, f"r{i}"),
                ref_rng.choices(SOURCES, SOURCE_WEIGHTS)[0], BASE_TIME)
           for i in range(600)]
    _write_jsonl(os.path.join(inputs_dir, "reference.jsonl"), ref)
    pq.write_table(pa.table({"source": pa.array(SOURCES, pa.string()),
                             "keep_rate": pa.array([1.0] * len(SOURCES), pa.float64())}),
                   os.path.join(inputs_dir, "rates.parquet"))

    gold = {}
    for r in fresh_all:
        key = f'{r["source"]}|{r["extracted_at"][:10]} {r["extracted_at"][11:13]}:00:00'
        gold[key] = gold.get(key, 0) + 1
    truth = {"workload": "ingest", "seed": seed, "drops": DROPS,
             "replay_drop": REPLAY_DROP, "arrived_rows": arrivals,
             "landed_per_drop": per_drop_landed,
             "bronze_posting_ids": sorted(r["posting_id"] for r in fresh_all),
             "gold_counts": gold,
             "max_event_time": max(r["extracted_at"] for r in fresh_all).replace("T", " ")[:19]}
    with open(truth_path, "w") as f:
        json.dump(truth, f)


# ---------------------------------------------------------------- corpus

VOCAB = 6000             # Zipf vocabulary size
ZIPF_S = 1.05
UNRELATED = 700          # singleton docs, far outside the similarity threshold
CLUSTERS = 80            # planted near-duplicate clusters
CLUSTER_SIZES = (2, 3, 4, 5)  # cycled: a base doc plus 1-4 one-word edits of it
DOC_WORDS = (90, 130)    # every doc is long enough that one edit keeps
                         # 3-shingle Jaccard near 0.94 (threshold 0.8)
QUERY_DOCS = 40          # held-out query docs: ids 0..QUERY_DOCS-1
APPEND_BATCHES = 1
APPEND_DOCS = 16
LANGS = ["en", "de", "fr"]
CORPUS_SOURCES = ["crawl-a", "crawl-b", "books", "forum", "news"]


def _vocab(rng):
    seen, words = set(), []
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    while len(words) < VOCAB:
        w = "".join(rng.choice(cons) + rng.choice(vows) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _docs_table(rows):
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64())})


def gen_corpus(seed, inputs_dir, truth_path):
    rng = random.Random(seed)
    os.makedirs(inputs_dir, exist_ok=True)
    words = _vocab(rng)
    weights = [1.0 / (r + 1) ** ZIPF_S for r in range(VOCAB)]
    cum = []
    acc = 0.0
    for w in weights:
        acc += w
        cum.append(acc)

    def draw(n):
        return rng.choices(words, cum_weights=cum, k=n)

    def doc_words():
        return draw(rng.randint(*DOC_WORDS))

    n_members = [CLUSTER_SIZES[c % len(CLUSTER_SIZES)] for c in range(CLUSTERS)]
    total = UNRELATED + sum(n_members)
    ids = rng.sample(range(QUERY_DOCS, QUERY_DOCS + 4 * total), total)
    rows, clusters, it = [], [], iter(ids)
    for m in n_members:
        base = doc_words()
        lang, source = rng.choice(LANGS), rng.choice(CORPUS_SOURCES)
        # members edit distinct, well-separated positions of the base doc,
        # so every pair of members stays far above the 0.8 threshold
        slots = rng.sample(range(5, len(base) - 5, 9), m - 1)
        members = []
        for j in range(m):
            w = list(base)
            if j > 0:
                w[slots[j - 1]] = rng.choice(words[VOCAB // 2:])
            did = next(it)
            rows.append((did, " ".join(w), lang, source))
            members.append(did)
        clusters.append(sorted(members))
    for _ in range(UNRELATED):
        rows.append((next(it), " ".join(doc_words()), rng.choice(LANGS),
                     rng.choice(CORPUS_SOURCES)))
    rows.sort()
    pq.write_table(_docs_table(rows), os.path.join(inputs_dir, "documents.parquet"))

    # held-out queries: an excerpt of a corpus doc plus a few Zipf words
    queries = []
    for q in range(QUERY_DOCS):
        src = rng.choice(rows)[1].split()
        start = rng.randrange(0, len(src) - 30)
        text = " ".join(src[start:start + 30] + draw(6))
        queries.append((q, text, rng.choice(LANGS), rng.choice(CORPUS_SOURCES)))
    pq.write_table(_docs_table(queries), os.path.join(inputs_dir, "queries.parquet"))

    # append batches of fresh docs. Each carries words from the rare tail
    # (df well under the index's 16 posting heads), so its postings always
    # enter the heads and a copy of it as a query must retrieve it.
    tail = words[VOCAB - 2000:]
    fresh_ids = iter(range(10_000_000, 10_000_000 + APPEND_BATCHES * APPEND_DOCS))
    appends = []
    for _ in range(APPEND_BATCHES):
        batch = []
        for _ in range(APPEND_DOCS):
            w = draw(rng.randint(60, 90)) + rng.sample(tail, 8)
            rng.shuffle(w)
            batch.append((next(fresh_ids), " ".join(w), rng.choice(LANGS),
                          rng.choice(CORPUS_SOURCES)))
        appends.append(batch)
    pq.write_table(_docs_table([r for b in appends for r in b]),
                   os.path.join(inputs_dir, "appends.parquet"))

    truth = {"workload": "corpus", "seed": seed, "docs": len(rows),
             "query_docs": QUERY_DOCS, "clusters": clusters,
             "append_batches": [[r[0] for r in b] for b in appends]}
    with open(truth_path, "w") as f:
        json.dump(truth, f)


if __name__ == "__main__":
    kind, seed, inputs, truth_file = sys.argv[1], int(sys.argv[2]), sys.argv[3], sys.argv[4]
    {"ingest": gen_ingest, "corpus": gen_corpus}[kind](seed, inputs, truth_file)
