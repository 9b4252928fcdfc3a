"""Seeded inputs of the benchmark's workloads.

Everything that depends on the seed is made here, before the engine
starts: the request order and the ingest batches. The engine receives
only the files this module writes. The same seed gives byte-identical
files.
"""
import os
import random

import duckdb

# The 7 bench rows whose wall is mostly outside stages at sf0.1
# (declaration, planning, broadcast, job submission).
INTERACTIVE = ["topk", "sim_topk_brute", "dedup_minhash_lsh", "text_bm25_topk",
               "graph_pagerank", "text_tfidf", "sim_topk_pq"]
# Run on every fresh corpus version of ingest_refresh, one per request.
INGEST = ["text_bm25_topk", "text_tfidf", "dedup_minhash_lsh"]

WORKLOADS = ["interactive", "ingest_refresh"]

# Blocks of the plan the untimed warm-up runs before the timed window,
# about 12 s of requests on either workload (perfbench/README.md).
WARM_BLOCKS = {"interactive": 4, "ingest_refresh": 3}

# The ingest batch: documents it holds (half near-duplicates of sf0.1
# documents, half new documents over the sf0.1 vocabulary) and the share
# of a near-duplicate's tokens that are replaced. perfbench/README.md
# says why these values.
BATCH_DOCS = 400
REPLACE_RATE = 0.1


def plan(workload, seed, n_blocks=400):
    """(block size, requests) for a workload. A request is (input,
    query). The sequence is a run of blocks, each a seeded permutation
    of the workload's (input, query) pairs, so a window that ends on a
    block boundary holds every pair equally often."""
    rng = random.Random(seed)
    if workload == "ingest_refresh":
        items = [("batch", q) for q in INGEST]
    else:
        items = [("sf", q) for q in INTERACTIVE]
    reqs = []
    for _ in range(n_blocks):
        block = list(items)
        rng.shuffle(block)
        reqs.extend(block)
    return len(items), reqs


def write_plan(path, reqs):
    with open(path, "w", newline="\n") as f:
        for inp, q in reqs:
            f.write("%s\t%s\n" % (inp, q))


def base_documents(sf_dir):
    con = duckdb.connect()
    return con.execute(
        "SELECT doc_id, text, lang, source FROM '%s/documents.parquet' "
        "WHERE text IS NOT NULL ORDER BY doc_id" % sf_dir).fetchall()


def ingest_batch(seed, docs):
    """The seed's batch: rows (doc_id, text, lang, source, n_chars).
    Near-duplicates copy an sf0.1 document and replace each token with
    probability REPLACE_RATE; new documents draw 10 to 60 tokens from the
    sf0.1 vocabulary."""
    rng = random.Random("batch/%d" % seed)
    vocab = sorted({t for d in docs for t in d[1].split(" ")})
    langs = sorted({d[2] for d in docs})
    sources = sorted({d[3] for d in docs})
    rows = []
    for i in range(BATCH_DOCS):
        if i % 2 == 0:
            _, text, lang, source = rng.choice(docs)
            toks = [rng.choice(vocab) if rng.random() < REPLACE_RATE else t
                    for t in text.split(" ")]
        else:
            toks = [rng.choice(vocab) for _ in range(rng.randint(10, 60))]
            lang, source = rng.choice(langs), rng.choice(sources)
        text = " ".join(toks)
        rows.append((1_000_000 + i, text, lang, source, len(text)))
    return rows


def write_batch(path, seed, sf_dir):
    with open(path, "w", newline="\n") as f:
        for r in ingest_batch(seed, base_documents(sf_dir)):
            f.write("\t".join(str(v) for v in r) + "\n")
