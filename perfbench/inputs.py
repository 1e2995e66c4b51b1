"""Seeded input generation for the benchmark workloads.

Every input a workload feeds the engine is built here from ``--seed``:
the same seed always yields byte-identical inputs.  The engine only ever
receives these generated inputs (Jobcan API responses through the
in-memory mock, parquet tables on disk).
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

# -- Jobcan sync -----------------------------------------------------------


@dataclass
class JobcanInputs:
    entities: dict[str, list[dict]]
    docs: list[dict]  # request documents the API serves
    fail: list[str]  # ids whose detail fetch answers 503

    def stored_ids(self) -> set[str]:
        return {d["id"] for d in self.docs} - set(self.fail)

    def json_bytes(self) -> int:
        objs = self.docs + [e for rows in self.entities.values() for e in rows]
        return sum(len(json.dumps(o, ensure_ascii=False).encode()) for o in objs)


def jobcan_inputs(seed: int, n_docs: int, n_fail: int) -> JobcanInputs:
    """Jobcan-shaped entities and request documents.

    Document and entity shapes come from the test fixtures; the seed
    drives their random fields, the document order, and which detail
    fetches fail."""
    from jobcan_fixtures import make_entities, make_request_docs

    rng = random.Random(seed)
    docs = [json.loads(d) for d in make_request_docs(n_docs, seed=seed)]
    rng.shuffle(docs)
    entities = {
        api: [json.loads(r) for r in rows] for api, rows in make_entities(n_docs).items()
    }
    fail = sorted(d["id"] for d in rng.sample(docs, n_fail))
    return JobcanInputs(entities, docs, fail)


# -- text corpus -------------------------------------------------------------
#
# The mix follows the sf0.1 ``documents`` table the registry gates and
# bench.py read (5000 rows; measured once, see NOTES.md): token counts uniform in
# 10..100, tokens uniform over 30 lowercase words, 5% of the docs a copy
# of another doc with " dup" appended (copies of one source collide into
# exact duplicates, copies of a doc with a lower id are span duplicates),
# and no doc under the 10-token floor.

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
MIN_TOKENS, MAX_TOKENS, DUP_SHARE = 10, 100, 0.05


def corpus(seed: int, n_docs: int) -> list[tuple[int, str]]:
    """(doc_id, text) rows with ids 0..n_docs-1 in the sf0.1 mix above."""
    rng = random.Random(seed)
    texts = [
        [rng.choice(_VOCAB) for _ in range(rng.randint(MIN_TOKENS, MAX_TOKENS))]
        for _ in range(n_docs)
    ]
    for i in rng.sample(range(n_docs), round(n_docs * DUP_SHARE)):
        j = rng.randrange(n_docs - 1)
        texts[i] = texts[j + (j >= i)] + ["dup"]
    return [(i, " ".join(t)) for i, t in enumerate(texts)]


def write_documents(path: Path, seed: int, n_docs: int) -> int:
    """The ``documents`` table (doc_id, text); returns the total text
    bytes."""
    rows = corpus(seed, n_docs)
    texts = [t for _, t in rows]
    table = pa.table(
        {
            "doc_id": pa.array([i for i, _ in rows], pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    pq.write_table(table, path)
    return sum(len(t.encode()) for t in texts)
