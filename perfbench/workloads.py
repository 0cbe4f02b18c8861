"""The benchmark's workloads and the pipeline calls they time.

Each workload has ``prepare`` (input generation, untimed), ``setup`` (timed
as ``setup_s``: the preload the workload needs before its first operation),
``op`` (one timed closed-loop operation), ``after_op`` (untimed per-operation
output capture and checks) and ``finish`` (untimed final checks).

Traced and untraced operations make the same library calls.  Traced, the
library functions a call goes through are wrapped (``traced_layers``) so
that every layer's output is persisted and counted inside its own span
before the next layer runs, so a span's time and job counts belong to that
layer alone.
"""

from __future__ import annotations

import io
import os
from collections import Counter
from contextlib import ExitStack, contextmanager
from unittest import mock

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from knowledgebot_spark import incremental, model, queries_corpus, registry, tables
from knowledgebot_spark.operators import chunker as ck
from knowledgebot_spark.operators import dedup as dd
from knowledgebot_spark.operators import edits as ed
from knowledgebot_spark.operators import embedding as em
from knowledgebot_spark.operators import extraction as ex
from knowledgebot_spark.operators import similarity as sim

import checks
import gen
from spans import dir_diff, dir_snapshot

# Importing queries_corpus registers the query.  registry.load() would also
# rank the whole catalog by checking every query's source against its
# recorded evidence, which takes about 35 s and has nothing to do with
# running one query.
CHAMPION = registry._REGISTRY["llm_dedup_champion"]
CHUNK_SIZE, OVERLAP = 20, 5
TOP_K = 10
LOOKBACK_DAYS = 7
MSG_SPACING_S = 137  # model.py: ts = 1700000000 + doc_id * 137 s
LOOKBACK_MSGS = LOOKBACK_DAYS * 86400 // MSG_SPACING_S + 1
CHANNELS = tuple(f"chan {r.lower()}" for r in gen.REGIONS)
# the model's message -> channel rule, so search filters on real channels
CHANNEL_ID_EXPR = next(e for e in model.MESSAGES_EXPRS if e.endswith(" AS channel_id"))


def ts_micros(doc_id: int) -> int:
    return (1700000000 + doc_id * MSG_SPACING_S) * 1_000_000 + doc_id % 7


def now_after(doc_id: int) -> int:
    """A run's ``now``: one minute after the newest message it is given."""
    return ts_micros(doc_id) + 60 * 1_000_000


def doc_of_key(msg_key: str) -> int:
    """``msg_key`` is ``<channel>_<sec>.<frac>``; invert the model's ts."""
    sec = int(msg_key.rsplit("_", 1)[1].split(".")[0])
    return (sec - 1700000000) // MSG_SPACING_S


def model_inputs(spark, sf_dir: str):
    return (
        model.messages(spark, sf_dir),
        model.users_dim(spark, sf_dir),
        model.channels_dim(spark, sf_dir),
        model.members(spark, sf_dir),
    )


def _materialize(tr, span, df, key: str):
    """Traced runs only: pin a layer's output and count it inside its span."""
    if not tr.enabled:
        return df
    df = df.persist()
    tr.count(span, key, df.count())
    return df


class Layers:
    """Shims around library functions for one traced operation.

    ``traced_layers`` swaps each listed function for a shim that runs the
    original in a span of its own and pins its output (persist plus count)
    before the caller goes on, so the library's own control flow runs
    unchanged, one layer at a time.  ``calls`` keeps each layer's span and
    output for the figures that are taken once the operation is over."""

    def __init__(self, tr):
        self.tr = tr
        self.pinned: list = []
        self.calls: dict[str, tuple] = {}

    def pin(self, df, span=None, key: str | None = None):
        df = df.persist()
        self.pinned.append(df)
        n = df.count()
        if span is not None:
            self.tr.count(span, key, n)
        return df


@contextmanager
def traced_layers(tr, shims):
    """Install ``shims`` — (module, attribute, make_shim) triples — while a
    traced operation runs; untraced operations get the library untouched."""
    if not tr.enabled:
        yield None
        return
    layers = Layers(tr)
    try:
        with ExitStack() as stack:
            for owner, attr, make in shims:
                shim = make(layers, getattr(owner, attr))
                stack.enter_context(mock.patch.object(owner, attr, shim))
            yield layers
    finally:
        for df in layers.pinned:
            df.unpersist()


def _layer(span: str, key: str):
    """Shim maker: the call runs in ``span``; its output is pinned and
    counted as ``key``."""

    def make(layers, fn):
        def call(*args, **kwargs):
            with layers.tr.span(span) as sp:
                out = layers.pin(fn(*args, **kwargs), sp, key)
            layers.calls[span] = (sp, out)
            return out

        return call

    return make


def _extraction_shim(layers, fn):
    build = _layer("extraction.build", "chunks_out")(layers, fn)

    def call(msgs, *args, **kwargs):
        # the in-scope messages (fresh plus pulled-back parents) are the
        # layer boundary before extraction
        return build(layers.pin(msgs), *args, **kwargs)

    return call


def _upsert_shim(layers, fn):
    def call(spark, path, new_rows, reprocessed_keys=None, **kwargs):
        if reprocessed_keys is not None:
            reprocessed_keys = layers.pin(reprocessed_keys)
        with layers.tr.span("keyed_parquet.upsert") as sp:
            fn(spark, path, new_rows, reprocessed_keys=reprocessed_keys, **kwargs)
        layers.calls["keyed_parquet.upsert"] = (sp, (new_rows, reprocessed_keys))

    return call


def _checkpoint_shim(layers, cls):
    class Run(cls):
        def __init__(self, *args, **kwargs):
            with layers.tr.span("checkpoint.load"):
                super().__init__(*args, **kwargs)

        def commit(self):
            with layers.tr.span("checkpoint.commit"):
                super().commit()

    return Run


INCREMENTAL_LAYERS = (
    (ed, "join_parents", _layer("edits.join_parents", "parents")),
    (ex, "build_knowledge_chunks", _extraction_shim),
    (incremental, "upsert_chunks", _upsert_shim),
    (incremental, "IncrementalRun", _checkpoint_shim),
)


def _parquet_bytes(df) -> int:
    buf = io.BytesIO()
    pq.write_table(df.toArrow(), buf, compression="snappy")
    return buf.tell()


def _table_keys(path: str) -> set:
    if not os.path.exists(path):
        return set()
    return set(pq.read_table(path, columns=["msg_key"]).column(0).to_pylist())


def run_extraction(spark, tr, sf_dir: str, out: str, state: str, now: int) -> None:
    """One ``incremental.run_extraction`` call.  Traced, the input scan is
    pinned first and the layers it calls run under ``INCREMENTAL_LAYERS``;
    the sink's byte, partition and tombstone figures are taken before and
    after the call, outside every span."""
    msgs, users, channels, members = model_inputs(spark, sf_dir)
    if tr.enabled:
        existing, before = _table_keys(out), dir_snapshot(out)
    with traced_layers(tr, INCREMENTAL_LAYERS) as layers:
        with tr.span("incremental.run"):
            with tr.span("model.scan") as scan:
                if layers is not None:
                    msgs = layers.pin(msgs, scan, "msgs")
            incremental.run_extraction(
                spark, msgs, users, channels, members,
                output_path=out, state_path=state, now_micros=now,
                lookback_days=LOOKBACK_DAYS,
            )
        if layers is None:
            return
        sp, _ = layers.calls["extraction.build"]
        tr.count(sp, "msgs_scanned", scan.counts["msgs"])
        sp, (new_rows, keys) = layers.calls["keyed_parquet.upsert"]
        written, parts = dir_diff(before, dir_snapshot(out))
        tr.count(sp, "bytes_written", written)
        tr.count(sp, "partitions_rewritten", parts)
        tr.count(sp, "keys_tombstoned", len(existing & {r[0] for r in keys.collect()}))
        tr.count(sp, "new_row_bytes", _parquet_bytes(new_rows))


DEDUP_LAYERS = (
    (dd, "with_minhash", _layer("dedup.minhash", "docs")),
    (dd, "candidate_pairs", _layer("dedup.candidates", "candidates")),
    (dd, "jaccard_verify", _layer("dedup.verify", "pairs")),
    (dd, "alternating_star_components", _layer("dedup.components", "nodes")),
)


def dedup_champion(spark, tr, sf_dir: str):
    """The registered ``llm_dedup_champion`` query, collected to Arrow.
    Traced, MinHash, the LSH candidate join, Jaccard verification and the
    connected components run under ``DEDUP_LAYERS``; the champion pick is
    what is left of the plan."""
    with traced_layers(tr, DEDUP_LAYERS) as layers:
        with tr.span("dedup.query"):
            df = CHAMPION.fn(spark, sf_dir)
            with tr.span("dedup.champion"):
                result = df.toArrow()
        if layers is not None:
            sp, pairs = layers.calls["dedup.verify"]
            tr.count(sp, "verified", pairs.filter(
                F.col("jaccard") >= queries_corpus.CLUSTER_JACCARD).count())
    return result


def rows_scored(df) -> int:
    """Output rows of the joins in ``df``'s executed plan: for a top-k
    query, the (vector, query) pairs the program scored."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if kind.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if "Join" in kind or kind == "CartesianProductExec":
            rows = node.metrics().get("numOutputRows")
            if rows.isDefined():
                total += rows.get().value()
        children = node.children()
        stack += [children.apply(i) for i in range(children.size())]
    return total


def build_vectors(spark, tr, sf_dir: str, vec_path: str) -> None:
    """The vector table (D5) from scratch: document texts with their
    channel -> token windows -> embeddings -> parquet."""
    with tr.span("model.scan") as sp:
        docs = _materialize(
            tr, sp,
            tables.read_spread(spark, sf_dir, "documents")
            .selectExpr("doc_id", "text", CHANNEL_ID_EXPR)
            .join(F.broadcast(model.channels_dim(spark, sf_dir)), "channel_id")
            .select("doc_id", "text", F.col("name").alias("channel_name")),
            "msgs",
        )
    with tr.span("chunker.windows") as sp:
        windows = _materialize(
            tr, sp, ck.chunk_windows(docs, "text", CHUNK_SIZE, OVERLAP), "windows_out"
        )
    with tr.span("embedding.embed") as sp:
        vectors = _materialize(
            tr, sp,
            em.with_embedding(
                windows.select(
                    F.concat_ws("#", "doc_id", "chunk_pos").alias("chunk_id"),
                    F.col("chunk_text").alias("text"),
                    "channel_name",
                ),
                text_col="text",
            ),
            "vectors_out",
        )
    with tr.span("d5.write") as sp:
        vectors.write.mode("overwrite").parquet(vec_path)
    if tr.enabled:
        tr.count(sp, "bytes_written", dir_diff({}, dir_snapshot(vec_path))[0])
        for df in (docs, windows, vectors):
            df.unpersist()


class Workload:
    name = ""
    item = ""  # what one operation handles, for the throughput line

    def __init__(self, work: str, seed: int, scale: float):
        self.work = work
        self.seed = seed
        self.scale = scale
        self.spark = None  # set once the session is up
        self.current = "setup"  # the operation being run or checked
        self.errors: list[str] = []
        self.failed: set = set()  # operations whose output check failed
        self.items = 0

    def fail(self, errs: list[str], op=None) -> None:
        if errs:
            self.errors += errs
            self.failed.add(self.current if op is None else op)

    def size(self, n: int) -> int:
        return max(8, int(n * self.scale))

    def dir(self, name: str) -> str:
        return os.path.join(self.work, name)

    def after_setup(self) -> None:
        pass

    def after_op(self) -> None:
        pass

    def finish(self) -> None:
        pass


CHUNK_COLUMNS = [
    "msg_key", "channel_id", "channel_name", "msg_date", "pretty_date",
    "ts_underscored", "snippet_no", "chunk_key", "author", "members_csv",
    "mentions_csv", "content", "header",
]


class IncrementalRuns(Workload):
    """Steady-state scheduled job: a preloaded chunk table, then runs that
    each see the lookback window plus a delta of new messages (with #EDIT
    replies that pull their parents back in); ``now`` advances per run."""

    name = "incremental_runs"
    item = "delta messages"
    # Deltas are whole multiples of the model's 20-message #EDIT period and
    # start 12 messages into one, so every delta's first #EDIT reply
    # (offset 2) has its parent (5 messages earlier) in the previous run.
    PRELOAD = 600
    DELTA = 60

    def prepare(self) -> None:
        self.corpus = gen.Corpus(gen.CorpusSpec(seed=self.seed))
        self.preload = self.size(self.PRELOAD) // 20 * 20 + 12
        self.delta = max(20, self.size(self.DELTA) // 20 * 20)
        self.out = self.dir("chunks")
        self.state = self.dir("state")
        gen.write_tables(self.corpus, self.dir("step0"), 0, self.preload)
        self.hi = self.preload
        self.last_dir = self.dir("step0")
        self.snapshots: list[tuple[object, int, Counter]] = []
        self._next_input()

    def _next_input(self) -> None:
        """Write the next step's input (window + delta) to a fresh directory."""
        lo, hi = self.hi, self.hi + self.delta
        self.next_dir = self.dir(f"step{hi}")
        gen.write_tables(self.corpus, self.next_dir, max(0, lo - LOOKBACK_MSGS), hi)
        self.next_hi = hi

    def setup(self, tr) -> None:
        # the preload is the sink's first write (its cold path); one run then
        # warms the merge path the timed runs take
        run_extraction(self.spark, tr, self.dir("step0"), self.out, self.state,
                       now_after(self.preload - 1))
        self.op(tr)

    def after_setup(self) -> None:
        self.after_op()

    def op(self, tr) -> None:
        run_extraction(self.spark, tr, self.next_dir, self.out, self.state,
                       now_after(self.next_hi - 1))
        self.items += self.delta

    def after_op(self) -> None:
        self.hi = self.next_hi
        self.last_dir = self.next_dir
        self._snapshot()
        self._next_input()

    def _snapshot(self) -> None:
        table = checks.read_chunk_table(self.out)
        self.snapshots.append((self.current, self.hi, checks.rows(table, CHUNK_COLUMNS)))

    def finish(self) -> None:
        """From-scratch extraction of every message seen, compared with the
        table as it stood after each run (the warm-up run included)."""
        if self.hi > LOOKBACK_MSGS:  # the last input no longer holds them all
            self.last_dir = self.dir("all")
            gen.write_tables(self.corpus, self.last_dir, 0, self.hi)
        msgs, users, channels, members = model_inputs(self.spark, self.last_dir)
        expected = ex.build_knowledge_chunks(msgs, users, channels, members).toArrow()
        by_doc = [doc_of_key(k) for k in expected.column("msg_key").to_pylist()]
        full = list(zip(*(expected.column(c).to_pylist() for c in CHUNK_COLUMNS)))
        blocks = [len(gen.expected_blocks(d, t)) for d, t in enumerate(self.corpus.texts(0, self.hi))]
        for op, hi, actual in self.snapshots:
            want = Counter(r for r, d in zip(full, by_doc) if d < hi)
            label = f"table after messages 0..{hi - 1}"
            self.fail(
                checks.check_count(sum(actual.values()), sum(blocks[:hi]), label)
                + checks.check_table_equals(actual, want, label),
                op,
            )


class Search(Workload):
    """Read-only top-k over a vector table that set-up builds; half the
    queries unfiltered, half channel-filtered.  Set-up also runs the
    near-duplicate curation query once over the same documents."""

    name = "search"
    item = "queries"
    CORPUS = 500
    # a quarter of the documents sit in planted near-duplicate clusters of
    # four, so the curation query has clusters to find
    DUP_SHARE, DUP_CLUSTER = 0.25, 4
    # query latency keeps falling for the first ~15 queries of a process
    # (plan and code caches, JIT); set-up runs them so timing starts warm
    WARMUP_QUERIES = 15

    def prepare(self) -> None:
        self.corpus = gen.Corpus(gen.CorpusSpec(
            seed=self.seed, dup_share=self.DUP_SHARE, dup_cluster=self.DUP_CLUSTER))
        n_docs = self.size(self.CORPUS)
        gen.write_tables(self.corpus, self.dir("input"), 0, n_docs)
        self.expected_vectors = sum(
            gen.expected_windows(t, CHUNK_SIZE, OVERLAP) for t in self.corpus.texts(0, n_docs)
        )
        self.vec_path = self.dir("vectors")
        self.n_queries = 0

    def setup(self, tr) -> None:
        build_vectors(self.spark, tr, self.dir("input"), self.vec_path)
        self.champions = dedup_champion(self.spark, tr, self.dir("input"))
        self.table = self.spark.read.parquet(self.vec_path)
        self.warmup = []
        for _ in range(self.WARMUP_QUERIES):
            self.op(tr)
            self.warmup.append(self.last)
            self.n_queries += 1

    def after_setup(self) -> None:
        self.ref = checks.TopkReference(self.vec_path)
        self.fail(checks.check_count(len(self.ref.ids), self.expected_vectors, "vector table"))
        self.fail(checks.check_champions(self.champions, CHAMPION.sql, self.dir("input")))
        for i, self.last in enumerate(self.warmup):
            self._check(i)

    def query(self, i: int) -> tuple[str, str | None]:
        rng = np.random.default_rng([self.seed, 10, i])
        n = int(rng.integers(3, 7))
        words = [self.corpus.words[j] for j in rng.integers(0, len(self.corpus.words), n)]
        # pairs of queries alternate unfiltered / filtered, so the traced
        # run's every-other-operation tracing sees both kinds
        channel = CHANNELS[int(rng.integers(0, len(CHANNELS)))] if i // 2 % 2 else None
        return " ".join(words), channel

    def op(self, tr) -> None:
        text, channel = self.query(self.n_queries)
        qvec = em.embed_text(text)
        qdf = self.spark.createDataFrame([(qvec,)], "qvec array<float>")
        table = self.table if channel is None else self.table.filter(
            F.col("channel_name") == channel
        )
        with tr.span("similarity.topk") as sp:
            top = sim.topk_cosine(table, qdf, k=TOP_K, id_col="chunk_id")
            rows = top.collect()
        if tr.enabled:
            tr.count(sp, "vectors_scored", rows_scored(top))
        self.last = (qvec, channel, [(r.chunk_id, r.score) for r in rows])
        self.items += 1

    def after_op(self) -> None:
        self._check(self.n_queries)
        self.n_queries += 1

    def _check(self, i: int) -> None:
        qvec, channel, got = self.last
        want = self.ref.topk(qvec, TOP_K, channel)
        self.fail(checks.check_topk(got, want, f"query {i}"))


WORKLOADS = {w.name: w for w in (IncrementalRuns, Search)}

