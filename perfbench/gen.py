"""Seeded input generator and the pure-Python expectations derived from it.

Writes the three testdata tables the Slack-shaped model reads
(``documents``, ``customer``, ``region``) with the testdata schemas.  The
model (``knowledgebot_spark.model``) derives knowledge blocks, ``#EDIT``
replies, thread replies and mentions from ``doc_id``; this module only
chooses the document texts, so the input properties it controls are:

  * message count (documents rows, ``doc_id`` 0..n-1 or a window of it);
  * vocabulary size (distinct words texts are drawn from);
  * planted near-duplicate share and cluster size (a cluster is a base
    text plus copies with one word replaced);
  * delta size (how many new messages each incremental step adds).

Every text is a pure function of (seed, doc_id), so a window of the
corpus written for an incremental step holds exactly the rows the full
corpus has for those ids, and the same seed gives byte-identical files.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
N_CUSTOMERS = 500
# words per document: long enough that one replaced word keeps a planted
# copy's 3-shingle Jaccard similarity to its base at or above 0.8
MIN_WORDS, MAX_WORDS = 40, 70

DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
CUSTOMER_SCHEMA = pa.schema(
    [
        ("c_custkey", pa.int64()),
        ("c_name", pa.string()),
        ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]
)
REGION_SCHEMA = pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())])

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass(frozen=True)
class CorpusSpec:
    """Input properties of one generated corpus."""

    seed: int
    vocab: int = 2000
    dup_share: float = 0.0     # share of documents that are planted near-dups
    dup_cluster: int = 4       # documents per planted cluster (base included)


def vocabulary(seed: int, size: int) -> list[str]:
    """``size`` distinct lowercase words, 3-9 letters, fixed by ``seed``."""
    rng = np.random.default_rng([seed, 0])
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        n = int(rng.integers(3, 10))
        w = "".join(rng.choice(_LETTERS, n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Corpus:
    """Texts of a seeded corpus, computed per ``doc_id`` on demand."""

    def __init__(self, spec: CorpusSpec):
        self.spec = spec
        self.words = vocabulary(spec.seed, spec.vocab)

    def _base_text(self, doc_id: int) -> list[str]:
        rng = np.random.default_rng([self.spec.seed, 1, doc_id])
        n = int(rng.integers(MIN_WORDS, MAX_WORDS + 1))
        return [self.words[i] for i in rng.integers(0, len(self.words), n)]

    def text(self, doc_id: int) -> str:
        """Documents are grouped in blocks of ``dup_cluster`` ids; a block is
        a planted cluster with probability ``dup_share`` (decided by the
        block's first id), in which case every member after the first is the
        first member's text with one word replaced."""
        c = self.spec.dup_cluster
        head = doc_id - doc_id % c
        if doc_id != head and self.spec.dup_share > 0:
            pick = np.random.default_rng([self.spec.seed, 2, head]).random()
            if pick < self.spec.dup_share:
                toks = self._base_text(head)
                rng = np.random.default_rng([self.spec.seed, 3, doc_id])
                toks[int(rng.integers(0, len(toks)))] = self.words[
                    int(rng.integers(0, len(self.words)))
                ]
                return " ".join(toks)
        return " ".join(self._base_text(doc_id))

    def texts(self, lo: int, hi: int) -> list[str]:
        return [self.text(d) for d in range(lo, hi)]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_tables(corpus: Corpus, out_dir: str, lo: int, hi: int) -> str:
    """Write documents ``lo..hi-1`` plus the customer and region dims into
    ``out_dir`` (created; must not already hold a documents table — every
    step gets a fresh directory because the program caches one relation
    per table path)."""
    os.makedirs(out_dir, exist_ok=True)
    docs_path = os.path.join(out_dir, "documents.parquet")
    if os.path.exists(docs_path):
        raise FileExistsError(docs_path)
    ids = list(range(lo, hi))
    texts = corpus.texts(lo, hi)
    _write(
        pa.table(
            {
                "doc_id": ids,
                "text": texts,
                "lang": ["en"] * len(ids),
                "source": [f"src{d % 7}" for d in ids],
                "n_chars": [len(t) for t in texts],
            },
            schema=DOCUMENTS_SCHEMA,
        ),
        docs_path,
    )
    rng = np.random.default_rng([corpus.spec.seed, 4])
    keys = list(range(N_CUSTOMERS))
    _write(
        pa.table(
            {
                "c_custkey": keys,
                "c_name": [f"Customer#{k:09d}" for k in keys],
                "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
                "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMERS)],
            },
            schema=CUSTOMER_SCHEMA,
        ),
        os.path.join(out_dir, "customer.parquet"),
    )
    _write(
        pa.table(
            {"r_regionkey": list(range(len(REGIONS))), "r_name": list(REGIONS)},
            schema=REGION_SCHEMA,
        ),
        os.path.join(out_dir, "region.parquet"),
    )
    return out_dir


# --- pure-Python expectations under the model's block rules ---------------

_BLOCK_RE = re.compile(r"(?s)#KNOWLEDGE(.*?)#END")


def model_full_text(doc_id: int, text: str) -> str:
    """``model.MESSAGES_EXPRS`` full_text, restated in Python (Spark
    ``substr(s, p, n)`` is ``s[p-1:p-1+n]``; mentions cannot hold blocks,
    so they are elided)."""
    k = doc_id % 4
    if k == 0:
        body = f"#KNOWLEDGE {text[:80]} #END"
    elif k == 1:
        body = (
            f"fyi <@U> and <@U> #KNOWLEDGE first: {text[:40]} #END also "
            f"#KNOWLEDGE second: {text[40:80]} #END"
        )
    elif k == 2:
        body = (
            "#EDIT please revise" if doc_id % 20 == 14
            else f"#KNOWLEDGE   #END plus {text[:30]}"
        )
    else:
        body = text[:60]
    if doc_id % 6 == 0:
        body += f"\nattached note {doc_id}"
    return body


def expected_blocks(doc_id: int, text: str) -> list[str]:
    """Chunk contents one message yields: non-empty blocks, space-trimmed
    (Spark ``trim``)."""
    out = []
    for block in _BLOCK_RE.findall(model_full_text(doc_id, text)):
        if block.strip(" "):
            out.append(block.strip(" "))
    return out


def expected_windows(text: str, chunk_size: int, overlap: int) -> int:
    """Token windows ``chunker.chunk_windows`` cuts from one text: it splits
    on single spaces and keeps the final partial window."""
    return len(range(0, len(text.split(" ")), chunk_size - overlap))
