"""Seeded inputs and op lists for the benchmark workloads.

Everything here is a pure function of ``(workload, seed)``: the same seed
gives byte-identical parquet files and the same op list, a different seed
gives different ones. The engine only ever sees the files written here.

Both workloads run over the sf0.1 ``documents`` table, kept beside this
file as ``data/documents.parquet`` (5000 documents, 594 KB). Measured
with DuckDB: 10-99 words per document, drawn from 30 common words
(``COMMON``, each in about 78% of the documents); 250 documents (5%) end
in the one rare term ``dup``, 243 of them as an earlier document plus
`` dup`` (the near-duplicates); 8 exact copies. Every near-duplicate
copies an EARLIER document, so any prefix of the table keeps that
structure whole.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WORKLOADS = ("text_curation", "index_lifecycle")

CORPUS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                      "documents.parquet")
#: documents in the corpus file; make_sf1.py offsets replica r's doc_id
#: by r times this
CORPUS_DOCS = 5000
#: replicas of the letter-rotated set the text corpus is drawn from (one
#: per rotation of the alphabet)
REPLICAS = 26
#: the text corpus: a prefix of one replica, sized so a round of the
#: text workload fits the run's time budget
TEXT_DOCS = 2000
#: untimed rounds in set-up. The first runs every op shape (codegen, the
#: JIT's first compiles, worker start); the ones after it still speed up
#: while the JIT compiles the driver's planning code. On 4 cores, rounds
#: of index_lifecycle took 14.4, 9.8, 9.5, 8.7, 8.1, 8.1 s and rounds of
#: text_curation 21, 8.3, 8.1, 7.7, 8.0 s. Two warm-up rounds take the
#: one-off cost and most of the ramp within the run's time budget.
WARMUP_ROUNDS = 2
#: the smoke test's corpus size (both workloads)
TINY_DOCS = 60

#: index_lifecycle: docs in the base segment built before the window,
#: docs per ingested batch, ids deleted per round. The rest of the corpus
#: gives (5000 - 2000) / 100 = 30 rounds; the window fails the run if it
#: runs out of them.
INDEX_BASE_DOCS = 2000
INDEX_BATCH = 100
INDEX_DELETES = 10

COMMON = ("spark", "window", "merge", "table", "column", "vector", "stream",
          "value", "data", "small", "join", "filter", "big", "group", "hash",
          "customer", "sort", "order", "slow", "line", "part", "fast", "row",
          "the", "agg", "key", "query", "a", "scan", "batch")
#: the corpus' one rare term (df 5%): the rare-term + stopword query
#: shape MaxScore prunes on
RARE = "dup"
#: one catalog entry per gram builder: char shingles, word n-grams
#: (broadcast), n-gram columns, positioned span grams, winnowing hashes
TEXT_ENTRIES = ("minhash_neardup", "broadcast_decontam_docs",
                "ngram_novelty_docs", "duplicate_spans_docs",
                "winnow_match_docs")
QUERY_KINDS = ("bm25", "maxscore", "query_string", "prf")

_AL = "abcdefghijklmnopqrstuvwxyz"


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per (seed, stream), so adding a stream
    never shifts the values another stream draws."""
    tag = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "big")
    return np.random.default_rng([seed, tag])


def corpus(n_docs: int) -> pa.Table:
    """The first ``n_docs`` documents of the corpus file."""
    return pq.read_table(CORPUS).sort_by("doc_id").slice(0, n_docs)


def rotated_replica(docs: pa.Table, replica: int) -> pa.Table:
    """Replica ``replica`` of ``docs`` the way scripts/make_sf1.py builds
    it: doc_id offset by ``replica * CORPUS_DOCS`` and the text put
    through a Caesar shift of ``replica`` letters. Rotation keeps
    lengths, word shape and the duplicate structure, and gives every
    replica its own shingles."""
    table = str.maketrans(_AL + _AL.upper(),
                          _AL[replica:] + _AL[:replica]
                          + (_AL[replica:] + _AL[:replica]).upper())
    texts = [t.translate(table) for t in docs["text"].to_pylist()]
    return docs.set_column(
        docs.schema.get_field_index("doc_id"), "doc_id",
        pc.add(docs["doc_id"], replica * CORPUS_DOCS)).set_column(
        docs.schema.get_field_index("text"), "text", pa.array(texts))


def text_replica(seed: int) -> int:
    return seed % REPLICAS


def write_inputs(workload: str, seed: int, out_dir: str,
                 tiny: bool = False) -> None:
    """Write the workload's tables under ``out_dir``; ``tiny`` writes a
    TINY_DOCS-document prefix instead."""
    os.makedirs(out_dir, exist_ok=True)
    if workload == "text_curation":
        docs = rotated_replica(corpus(TINY_DOCS if tiny else TEXT_DOCS),
                               text_replica(seed))
        tabs = {"documents": docs}
    else:
        docs = corpus(TINY_DOCS if tiny else CORPUS_DOCS)
        tabs = {"documents": docs}
        for name, ids in index_batches(seed, docs.num_rows).items():
            tabs[name] = docs.take(ids)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def index_batches(seed: int, n_docs: int) -> dict[str, list[int]]:
    """The index corpus split into the base segment and the doc-disjoint
    ingest batches (``batch_000``...), in a seeded order."""
    order = [int(i) for i in _rng(seed, "index/order").permutation(n_docs)]
    n_base = n_docs * INDEX_BASE_DOCS // CORPUS_DOCS
    batch = max(1, n_docs * INDEX_BATCH // CORPUS_DOCS)
    out = {"base": sorted(order[:n_base])}
    for k, lo in enumerate(range(n_base, n_docs - batch + 1, batch)):
        out[f"batch_{k:03d}"] = sorted(order[lo:lo + batch])
    return out


# -- op lists -----------------------------------------------------------

def _curation_pipeline(r: np.random.Generator) -> dict:
    """A DAG run over the corpus: length filter, word count, per-language
    totals, both written as parquet."""
    return {"kind": "pipeline", "table": "documents", "group": "lang",
            "where": f"n_chars > {int(r.integers(100, 400))}",
            "derive": ("n_words",
                       "length(text) - length(replace(text, ' ', '')) + 1")}


def _index_round(r: np.random.Generator, k: int,
                 batches: dict[str, list[int]], live: set[int]) -> list[dict]:
    """Ingest a batch, delete seeded live ids, one query of each kind
    (against the new segment and the tombstoned one), compact."""
    name = f"batch_{k:03d}"
    live.update(batches[name])
    gone = sorted(int(i) for i in r.choice(sorted(live), INDEX_DELETES,
                                            replace=False))
    live.difference_update(gone)
    ops = [{"kind": "ingest", "batch": name},
           {"kind": "delete", "doc_ids": gone}]
    for kind in r.permutation(QUERY_KINDS):
        common = [str(t) for t in r.choice(COMMON, 3, replace=False)]
        if kind in ("bm25", "maxscore"):
            q = {"terms": [RARE, common[0], common[1]]}
        elif kind == "query_string":
            q = {"must": [RARE], "should": [common[0], common[2]],
                 "must_not": [common[1]]}
        else:
            q = {"terms": [RARE]}
        ops.append({"kind": "query", "query": str(kind), **q})
    ops.append({"kind": "compact"})
    return ops


def op_rounds(workload: str, seed: int, n_rounds: int,
              n_docs: int = CORPUS_DOCS) -> list[list[dict]]:
    """The seeded op sequence, in rounds, for an index corpus of
    ``n_docs``. Every round of a workload runs the same multiset of op
    shapes (in a seeded order, with seeded parameters), so per-run
    metrics compare across seeds."""
    r = _rng(seed, f"ops/{workload}")
    rounds: list[list[dict]] = []
    if workload == "text_curation":
        for _ in range(n_rounds):
            ops = [{"kind": "text", "entry": str(e)} for e in TEXT_ENTRIES]
            ops.append(_curation_pipeline(r))
            rounds.append([ops[i] for i in r.permutation(len(ops))])
    elif workload == "index_lifecycle":
        batches = index_batches(seed, n_docs)
        live = set(batches["base"])
        for k in range(n_rounds):
            rounds.append(_index_round(r, k, batches, live))
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return rounds


def max_rounds(workload: str) -> int:
    """How many rounds the op list holds."""
    if workload == "index_lifecycle":
        return (CORPUS_DOCS - INDEX_BASE_DOCS) // INDEX_BATCH
    return 40
