"""The benchmark's own tests: seeded inputs, output checks that reject
corrupted results, and a tiny-size run of every workload in both modes.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import types
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import gen  # noqa: E402

SPEC = dict(vocab=300, dup_share=0.5, dup_cluster=3)


def _files(d: str) -> dict[str, bytes]:
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for name in ("a", "b"):
        gen.write_tables(gen.Corpus(gen.CorpusSpec(seed=7, **SPEC)), str(tmp_path / name), 0, 200)
    gen.write_tables(gen.Corpus(gen.CorpusSpec(seed=8, **SPEC)), str(tmp_path / "c"), 0, 200)
    a, b, c = (_files(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a["documents.parquet"] != c["documents.parquet"]


def test_window_of_corpus_matches_full_corpus(tmp_path):
    corpus = gen.Corpus(gen.CorpusSpec(seed=3, **SPEC))
    gen.write_tables(corpus, str(tmp_path / "all"), 0, 120)
    gen.write_tables(corpus, str(tmp_path / "win"), 80, 120)
    full = pq.read_table(str(tmp_path / "all" / "documents.parquet")).to_pylist()
    win = pq.read_table(str(tmp_path / "win" / "documents.parquet")).to_pylist()
    assert full[80:] == win


def test_planted_clusters_are_near_duplicates():
    corpus = gen.Corpus(gen.CorpusSpec(seed=5, vocab=300, dup_share=1.0, dup_cluster=4))

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    base = shingles(corpus.text(8))
    for d in (9, 10, 11):
        other = shingles(corpus.text(d))
        assert len(base & other) / len(base | other) >= 0.8


def test_fresh_directory_is_required(tmp_path):
    corpus = gen.Corpus(gen.CorpusSpec(seed=1, **SPEC))
    gen.write_tables(corpus, str(tmp_path), 0, 10)
    with pytest.raises(FileExistsError):
        gen.write_tables(corpus, str(tmp_path), 10, 20)


def test_expected_blocks_follow_the_model_rules():
    text = " ".join(f"w{i}" for i in range(40))
    assert gen.expected_blocks(0, text) == [text[:80]]
    assert gen.expected_blocks(1, text) == [f"first: {text[:40]}", f"second: {text[40:80]}"]
    assert gen.expected_blocks(2, text) == []   # empty block
    assert gen.expected_blocks(14, text) == []  # #EDIT reply
    assert gen.expected_blocks(3, text) == []   # no block


# --- each check rejects a corrupted result --------------------------------

def test_count_check_rejects_a_dropped_row():
    assert checks.check_count(12, 12, "vectors") == []
    assert checks.check_count(11, 12, "vectors")


def _chunk_table(root: str, rows: list[tuple]) -> None:
    cols = ["msg_key", "snippet_no", "channel_name", "msg_date"]
    table = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
    pq.write_to_dataset(table, root, partition_cols=["channel_name", "msg_date"])


def test_table_check_rejects_a_dropped_row(tmp_path):
    rows = [("C1_1.0", 1, "chan asia", "20231114"), ("C1_1.0", 2, "chan asia", "20231114"),
            ("C2_2.0", 1, "chan europe", "20231115")]
    _chunk_table(str(tmp_path / "t"), rows)
    cols = ["msg_key", "snippet_no", "channel_name", "msg_date"]
    actual = checks.rows(checks.read_chunk_table(str(tmp_path / "t")), cols)
    assert checks.check_table_equals(actual, Counter(rows), "t") == []
    assert checks.check_table_equals(actual, Counter(rows[:-1]), "t")
    dropped = actual.copy()
    dropped[rows[0]] -= 1
    assert checks.check_table_equals(+dropped, Counter(rows), "t")


def _vectors(path: str) -> None:
    ids = [f"v{i:02d}" for i in range(12)]
    vecs = [[float((i * 7 + j * 3) % 11) / 10.0 for j in range(4)] for i in range(12)]
    vecs[5] = list(vecs[4])  # a tie, broken by id
    vecs[6] = [0.0] * 4      # zero norm scores NULL, ranks last
    pq.write_table(
        pa.table(
            {
                "chunk_id": ids,
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "channel_name": ["chan asia" if i % 2 else "chan europe" for i in range(12)],
            }
        ),
        path,
    )


def test_topk_reference_ranks_and_breaks_ties_by_id(tmp_path):
    path = str(tmp_path / "v.parquet")
    _vectors(path)
    ref = checks.TopkReference(path)
    top = ref.topk(list(ref.vecs[4]), 12)
    assert len(top) == 12
    assert [i for i, _ in top[:2]] == ["v04", "v05"]
    assert top[-1] == ("v06", None)
    filtered = ref.topk([1.0, 0.0, 0.0, 0.0], 6, "chan asia")
    assert len(filtered) == 6 and all(int(i[1:]) % 2 for i, _ in filtered)


def test_topk_check_rejects_a_swapped_id_or_score(tmp_path):
    path = str(tmp_path / "v.parquet")
    _vectors(path)
    ref = checks.TopkReference(path)
    want = ref.topk([0.3, 0.1, 0.9, 0.2], 5)
    assert checks.check_topk(list(want), want, "q") == []
    swapped = list(want)
    swapped[1], swapped[2] = (swapped[2][0], swapped[1][1]), (swapped[1][0], swapped[2][1])
    assert checks.check_topk(swapped, want, "q")
    off = [(want[0][0], want[0][1] + 1e-6)] + list(want[1:])
    assert checks.check_topk(off, want, "q")
    assert checks.check_topk(want[:-1], want, "q")


def _champion_oracle(sf_dir: str):
    from knowledgebot_spark import queries_corpus  # noqa: F401  (registers the query)
    from knowledgebot_spark import registry

    sql = registry._REGISTRY["llm_dedup_champion"].sql
    con = duckdb.connect()
    for name in ("documents", "customer", "region"):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{name}.parquet')")
    return sql, con.execute(sql).arrow()


def test_champion_check_rejects_a_changed_or_dropped_row(tmp_path):
    corpus = gen.Corpus(gen.CorpusSpec(seed=2, vocab=300, dup_share=1.0, dup_cluster=4))
    gen.write_tables(corpus, str(tmp_path), 0, 16)
    sql, right = _champion_oracle(str(tmp_path))
    assert right.num_rows >= 2
    assert checks.check_champions(right, sql, str(tmp_path)) == []
    assert checks.check_champions(right.slice(1), sql, str(tmp_path))
    ids = right.column("champion_doc_id").to_pylist()
    ids[0] += 1
    changed = right.set_column(
        right.column_names.index("champion_doc_id"), "champion_doc_id",
        pa.array(ids, right.schema.field("champion_doc_id").type),
    )
    assert checks.check_champions(changed, sql, str(tmp_path))


def test_champion_check_rejects_a_corpus_without_clusters(tmp_path):
    gen.write_tables(gen.Corpus(gen.CorpusSpec(seed=2, vocab=300)), str(tmp_path), 0, 16)
    sql, none = _champion_oracle(str(tmp_path))
    assert none.num_rows == 0
    assert checks.check_champions(none, sql, str(tmp_path))


# --- traced operations -----------------------------------------------------

class _FakeFrame:
    def __init__(self):
        self.pinned = False

    def persist(self):
        self.pinned = True
        return self

    def unpersist(self):
        self.pinned = False

    def count(self):
        return 3


class _FakeContext:
    def setJobGroup(self, *args):
        pass

    def setLocalProperty(self, *args):
        pass

    def statusTracker(self):
        return types.SimpleNamespace(getJobIdsForGroup=lambda group: [])


def test_traced_layers_wrap_only_while_the_operation_runs():
    import spans
    import workloads

    lib = types.SimpleNamespace(step=lambda x: _FakeFrame())
    original = lib.step
    shims = [(lib, "step", workloads._layer("lib.step", "rows"))]
    tr = spans.Tracer(_FakeContext())
    with workloads.traced_layers(tr, shims) as layers:
        out = lib.step(1)
        assert out.pinned and layers.calls["lib.step"][1] is out
    assert lib.step is original and not out.pinned
    assert [(sp.name, sp.counts["rows"]) for sp in tr.spans] == [("lib.step", 3)]
    with workloads.traced_layers(spans.NullTracer(), shims) as layers:
        assert layers is None and lib.step is original


# --- command-level behaviour ---------------------------------------------

def _bench(args, cwd):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


def test_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    res = _bench(["--workload", "search", "--seed", "1", "--seconds", "1", "--trace", "0"],
                 str(tmp_path))
    assert res.returncode != 0
    assert '"correct"' not in res.stdout


def _metric_names(kind: str) -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", ["incremental_runs", "search"])
def test_tiny_run(workload, trace):
    res = _bench(
        ["--workload", workload, "--seed", "11", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.1"],
        ROOT,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2
    kind = "per_layer" if trace else "end_to_end"
    assert set(out["metrics"]) == _metric_names(kind)
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values())
