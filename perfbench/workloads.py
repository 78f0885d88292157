"""The three benchmark workloads.

Each workload writes its seeded inputs once per run (``generate``),
binds them to the session of every set-up (``load``), then resolves them
as often as the measuring window allows (``resolve``). A batch workload resolves the same inputs each time, into
a fresh work directory; the continuous one folds the next arrival file
into its running state each time. ``resolve`` returns the cluster
assignment as a ``{doc_id: cluster_id}`` dict so the runner can digest
it and score it against the planted gold pairs.

Layer calls go through ``tracer.layer(...)``; with the ``NullTracer`` of
an untraced run that is a plain call and the chain runs the way a user
would write it.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time
from contextlib import ExitStack, contextmanager
from itertools import combinations

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from continuousfilteringbenchmark_spark.fixtures import clean_clean_corpus, distributed_dirty_docs
from continuousfilteringbenchmark_spark.operators import blocking as B
from continuousfilteringbenchmark_spark.operators.cluster import clusters_with_singletons
from continuousfilteringbenchmark_spark.plans import bucketed, pipeline, stages
from continuousfilteringbenchmark_spark.streaming import continuous
from continuousfilteringbenchmark_spark.streaming.staging import stage_microbatch

THRESHOLD = 0.5


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def collect_assignment(clusters) -> dict:
    return {str(r[0]): str(r[1]) for r in clusters.select("doc_id", "cluster_id").collect()}


def cluster_pairs(assignment: dict) -> set:
    members: dict = {}
    for doc, cid in assignment.items():
        members.setdefault(cid, []).append(doc)
    return {p for ms in members.values() for p in combinations(sorted(ms), 2)}


def dirty_gold(doc_ids) -> set:
    """Gold pairs of a Dirty corpus: docs ``D:<eid>:<copy>`` sharing an eid."""
    by_entity: dict = {}
    for d in doc_ids:
        by_entity.setdefault(d.rsplit(":", 1)[0], []).append(d)
    return {p for ds in by_entity.values() for p in combinations(sorted(ds), 2)}


def jaccard_components(tokens: dict, threshold: float) -> dict:
    """{doc_id: min doc_id of its component} over the graph of every doc
    pair whose token sets have Jaccard >= threshold (> 0). Every such pair
    shares a token, so an inverted index enumerates all candidates."""
    index: dict = {}
    for doc, toks in tokens.items():
        for t in toks:
            index.setdefault(t, []).append(doc)
    parent = {doc: doc for doc in tokens}

    def root(d):
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d

    seen = set()
    for docs in index.values():
        for a, b in combinations(sorted(docs), 2):
            if (a, b) in seen:
                continue
            seen.add((a, b))
            ta, tb = tokens[a], tokens[b]
            common = len(ta & tb)
            if common / (len(ta) + len(tb) - common) >= threshold:
                ra, rb = root(a), root(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {doc: root(doc) for doc in tokens}


@contextmanager
def patched(module, name: str, wrapper):
    """Temporarily replace ``module.name`` with ``wrapper(original)``."""
    orig = getattr(module, name)
    setattr(module, name, wrapper(orig))
    try:
        yield
    finally:
        setattr(module, name, orig)


class Workload:
    name = ""
    # what the report calls one resolution's wall time
    RESOLVE_LABEL = "resolve_s"
    F1_FLOOR = 0.0
    # spans a traced resolution plus the gates must record
    EXPECTED_SPANS: tuple = ()
    # per-scale sizes: "full" is measured, "smoke" is the benchmark's own test
    sizes: dict = {}

    def __init__(self, seed: int, scale: str, root: str):
        self.spark = None
        self.seed = seed
        self.size = self.sizes[scale]
        self.root = root
        self.n_docs = 0
        self.input_bytes = 0
        self.gold: set = set()
        self.iteration = 0
        self.last_work: str | None = None
        # names the input the last resolution resolved: resolutions of the
        # same input must give the same assignment
        self.input_id = "all"

    def remaining(self) -> float:
        """How many more resolutions have input left."""
        return math.inf

    def fresh_dir(self) -> str:
        """A new work directory for one resolution; the previous one is
        wiped (the last one stays for the post-loop gates)."""
        if self.last_work:
            shutil.rmtree(self.last_work, ignore_errors=True)
        self.iteration += 1
        self.last_work = os.path.join(self.root, f"it{self.iteration:04d}")
        os.makedirs(self.last_work)
        return self.last_work

    def generate(self, spark) -> None:
        """Write the seeded inputs under ``root``: the docs as parquet in
        ``root/docs``, plus whatever else the workload needs."""
        raise NotImplementedError

    def load(self, spark) -> None:
        """Bind the written inputs to ``spark``, a fresh session."""
        self.spark = spark
        path = os.path.join(self.root, "docs")
        self.input_bytes = dir_bytes(path)[0]
        self.docs = spark.read.parquet(path)
        self.n_docs = self.docs.count()

    def resolve(self, work: str, tr) -> dict:
        raise NotImplementedError

    def observe(self, work: str) -> dict:
        """What one resolution left behind: ``store_bytes`` is every byte
        on storage it left, ``input_bytes`` the input bytes behind them and
        ``docs`` the docs it resolved."""
        return {
            "store_bytes": dir_bytes(work)[0],
            "input_bytes": self.input_bytes,
            "docs": self.n_docs,
        }

    def gates(self, its: list, tr) -> dict:
        """Workload-specific correctness gates over every successful
        resolution in the order they ran: {name: passed}."""
        return {}

    def extra_metrics(self, obs: list) -> dict:
        """Workload-specific report lines: {name: (value, unit)}."""
        return {}

    def layer_metrics(self, obs: list) -> dict:
        """Per-layer metrics this workload adds, from the observations of
        its traced resolutions."""
        return {}


class DirtyOvercap(Workload):
    """Dirty ER over a Zipf-vocabulary corpus, scored on the over-cap
    (bucketed) route: the token dictionary is declared over the broadcast
    cap, so ``score_pairs(engine='auto')`` takes the path every corpus past
    the 1M-doc cap takes."""

    name = "dirty_overcap"
    sizes = {"full": 1000, "smoke": 150}
    # below every doc count a size above generates: auto goes bucketed
    BROADCAST_ROWS = 100
    N_BUCKETS = 8
    F1_FLOOR = 0.5
    EXPECTED_SPANS = (
        "tokenize", "blocking.build", "blocking.pairs", "bucketed.write", "scoring", "cluster",
    )

    def generate(self, spark) -> None:
        docs = distributed_dirty_docs(spark, self.size, seed=self.seed, partitions=4)
        docs.write.parquet(os.path.join(self.root, "docs"))

    def load(self, spark) -> None:
        super().load(spark)
        self.gold = dirty_gold(r[0] for r in self.docs.select("doc_id").collect())

    def resolve(self, work, tr):
        docs = self.docs
        tok = tr.layer("tokenize", lambda: pipeline.docs_with_tokens(docs, side_from_prefix=False))
        blocks = tr.layer(
            "blocking.build",
            lambda: B.build_blocks(tok, B.BlockingConfig(clean_clean=False)),
        )
        pairs = tr.layer("blocking.pairs", lambda: B.pairs_from_blocks(blocks, clean_clean=False))
        bucket_path = os.path.join(work, "buckets")
        tr.layer(
            "bucketed.write",
            lambda: bucketed.write_token_buckets(tok, bucket_path, self.N_BUCKETS),
        )
        matches = tr.layer(
            "scoring",
            lambda: pipeline.score_pairs(
                pairs,
                tok,
                "jaccard",
                broadcast_rows=self.BROADCAST_ROWS,
                engine="auto",
                min_score=THRESHOLD,
                bucket_path=bucket_path,
            ),
        )
        clusters = tr.layer(
            "cluster",
            lambda: clusters_with_singletons(
                docs, matches.select("left_id", "right_id"), input_distinct=True
            ),
        )
        return collect_assignment(clusters)

    def observe(self, work):
        buckets = dir_bytes(os.path.join(work, "buckets"))[0]
        return {**super().observe(work), "bucketed.bytes": buckets}


class CleanCleanMaterialized(Workload):
    """DBLP-ACM-style two-source corpus resolved through the resumable
    stage store: every stage is committed as parquet, and a second call on
    the committed store resumes instead of recomputing."""

    name = "cleanclean_materialized"
    sizes = {"full": 600, "smoke": 60}
    # the north star's labeled-F1 floor
    F1_FLOOR = 0.99
    EXPECTED_SPANS = (
        "materialized_er_pipeline", "stages.tokened", "stages.blocks", "stages.candidate_pairs",
        "stages.matches", "stages.clusters", "stages.resume", "tokenize", "blocking.build",
        "blocking.pairs", "bucketed.write", "scoring", "cluster",
    )
    # stage -> the engine layer whose output that stage commits
    STAGE_LAYERS = {
        "tokened": "tokenize",
        "blocks": "blocking.build",
        "candidate_pairs": "blocking.pairs",
        "matches": "scoring",
        "clusters": "cluster",
    }

    def generate(self, spark) -> None:
        corpus = clean_clean_corpus(spark, n_entities=self.size, seed=self.seed)
        corpus.docs.write.parquet(os.path.join(self.root, "docs"))
        corpus.gold_pairs.write.parquet(os.path.join(self.root, "gold"))

    def load(self, spark) -> None:
        super().load(spark)
        gold = spark.read.parquet(os.path.join(self.root, "gold"))
        self.gold = {tuple(sorted((r[0], r[1]))) for r in gold.collect()}
        self.resume_s = None

    def _run(self, store) -> dict:
        res = stages.materialized_er_pipeline(
            self.docs, store, pipeline.ERConfig(threshold=THRESHOLD), clean_clean=True
        )
        return collect_assignment(res["clusters"])

    def resolve(self, work, tr):
        store = stages.StageStore(self.spark, os.path.join(work, "store"), "run")
        with ExitStack() as stack:
            if tr.enabled:
                stack.enter_context(patched(stages.StageStore, "run_stage", self._traced_stage(tr)))
                stack.enter_context(
                    patched(bucketed, "write_token_buckets", self._traced_buckets(tr))
                )
            with tr.span("materialized_er_pipeline"):
                return self._run(store)

    def _traced_stage(self, tr):
        layers = self.STAGE_LAYERS

        def wrap(run_stage):
            def traced(store, stage, build, partition_by=None):
                with tr.span(f"stages.{stage}", layer="stages"):
                    if store.is_committed(stage):
                        return run_stage(store, stage, build, partition_by)
                    return run_stage(
                        store, stage, lambda: tr.layer(layers[stage], build), partition_by
                    )

            return traced

        return wrap

    @staticmethod
    def _traced_buckets(tr):
        def wrap(write):
            return lambda *a, **kw: tr.layer("bucketed.write", lambda: write(*a, **kw))

        return wrap

    def gates(self, its, tr):
        # resume on the committed store of the last resolution
        store = stages.StageStore(self.spark, os.path.join(self.last_work, "store"), "run")
        t0 = time.perf_counter()
        with tr.span("stages.resume", layer="stages"):
            resumed = self._run(store)
        self.resume_s = time.perf_counter() - t0
        return {"resume_same_clusters": resumed == its[-1]["assignment"]}

    def observe(self, work):
        store = os.path.join(work, "store")
        nbytes, files = dir_bytes(store)
        return {
            **super().observe(work),
            "store_bytes": nbytes,
            "stages.bytes": nbytes,
            "stages.files": files,
            "bucketed.bytes": dir_bytes(os.path.join(store, "run", "token_buckets"))[0],
        }

    def layer_metrics(self, obs):
        return {"stages.resume_s": self.resume_s or 0.0}


class EpochListener(StreamingQueryListener):
    """Per-micro-batch durations of every streaming query of the session."""

    def __init__(self):
        self.lock = threading.Lock()
        self.run_ids: list[str] = []
        self.epochs: list[tuple[float, float]] = []  # (batch_s, addBatch_s)
        self.terminated = 0

    def onQueryStarted(self, event):
        with self.lock:
            self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows > 0:
            with self.lock:
                self.epochs.append(
                    (p.batchDuration / 1000.0, p.durationMs.get("addBatch", 0) / 1000.0)
                )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated += 1

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        """Listener events arrive asynchronously; wait for the n-th end."""
        deadline = time.monotonic() + timeout
        while self.terminated < n and time.monotonic() < deadline:
            time.sleep(0.02)
        if self.terminated < n:
            raise RuntimeError("streaming query end event never arrived")


class ContinuousArrivals(Workload):
    """Arrival files of a Dirty corpus folded one at a time into one running
    state. A resolution moves the next arrival file into the stream's input
    directory and calls ``run_continuous_er`` on the same state, which
    restarts the query from its checkpoint and runs one micro-batch for the
    new file. The posting index and the assignment grow over the run, as
    they do in a stream; the warm-up folds the first file."""

    name = "continuous_arrivals"
    # (entities, arrival files): enough files for the warm-up plus every
    # measured and traced resolution a run makes
    sizes = {"full": (800, 5), "smoke": (120, 3)}
    SEED_SALT = 7919  # the arrivals corpus has its own seed
    RESOLVE_LABEL = "fold_s"
    F1_FLOOR = 0.5
    EXPECTED_SPANS = ("run_continuous_er", "continuous.matches", "cluster", "er_pipeline")

    def arrival(self):
        """The arrival file of each doc: an entity's copies scatter over the
        files, so clusters merge across epochs."""
        return F.pmod(F.xxhash64("doc_id"), F.lit(self.size[1]))

    def generate(self, spark) -> None:
        n_entities, n_files = self.size
        path = os.path.join(self.root, "docs")
        distributed_dirty_docs(
            spark, n_entities, seed=self.seed * self.SEED_SALT + 1, partitions=4
        ).write.parquet(path)
        docs = spark.read.parquet(path)
        staged = os.path.join(self.root, "arrivals")
        os.makedirs(staged)
        self.arrivals = [
            stage_microbatch(docs.where(self.arrival() == i), staged, i + 1)
            for i in range(n_files)
        ]
        self.input_dir = os.path.join(self.root, "input")
        os.makedirs(self.input_dir)
        self.state = os.path.join(self.root, "state")
        self.input_id = 0  # arrival files folded so far
        self.epochs_per_fold: set = set()

    def load(self, spark) -> None:
        super().load(spark)
        self.arrival_of = {r[0]: r[1] for r in self.docs.select("doc_id", self.arrival()).collect()}
        self.gold = dirty_gold(self.arrival_of)
        self.listener = EpochListener()
        spark.streams.addListener(self.listener)

    def remaining(self) -> float:
        return len(self.arrivals) - self.input_id

    def fresh_dir(self) -> str:
        """The running state: every resolution folds into the same one."""
        self.iteration += 1
        self.last_work = self.state
        return self.state

    def resolve(self, work, tr):
        path = self.arrivals[self.input_id]
        os.rename(path, os.path.join(self.input_dir, os.path.basename(path)))
        self.input_id += 1
        lis = self.listener
        self.first_epoch, first_run = len(lis.epochs), len(lis.run_ids)
        with ExitStack() as stack:
            if tr.enabled:
                stack.enter_context(
                    patched(continuous, "incremental_cc_merge", self._traced_merge(tr))
                )
            with tr.span(
                "run_continuous_er",
                layer="continuous",
                extra_groups=lambda: lis.run_ids[first_run:],
            ):
                out = continuous.run_continuous_er(
                    self.spark, self.input_dir, work, threshold=THRESHOLD, numeric_ids=False
                )
                return collect_assignment(out)

    @staticmethod
    def _traced_merge(tr):
        """Force the epoch's match edges (tokenize, candidate generation and
        Jaccard, all inline in the micro-batch) in one span, then the
        cluster merge in its own."""

        def wrap(merge):
            def traced(assignment, new_edges):
                edges = tr.layer("continuous.matches", lambda: new_edges)
                return tr.layer("cluster", lambda: merge(assignment, edges))

            return traced

        return wrap

    def prefix_docs(self, k: int) -> set:
        """Doc ids of the first ``k`` arrival files."""
        return {d for d, i in self.arrival_of.items() if i < k}

    def observe(self, work):
        lis = self.listener
        lis.wait_terminated(len(lis.run_ids))
        epochs = lis.epochs[self.first_epoch :]
        self.epochs_per_fold.add(len(epochs))
        folded = [os.path.join(self.input_dir, n) for n in os.listdir(self.input_dir)]
        toks = os.path.join(work, "toks")
        k = self.input_id
        return {
            "store_bytes": dir_bytes(work)[0],
            "input_bytes": sum(os.path.getsize(p) for p in folded),
            "docs": len(self.prefix_docs(k)) - len(self.prefix_docs(k - 1)),
            "epochs": epochs,
            "posting_dirs": len(os.listdir(toks)) if os.path.isdir(toks) else 0,
        }

    def gates(self, its, tr):
        """Streaming == batch on the docs folded so far, after every fold.
        The batch answer (standard blocking without purging or filtering
        -> exact Jaccard >= t -> connected components) is computed in plain
        Python from the engine's own token sets. A traced run also runs the
        engine's ``er_pipeline`` for that chain on the docs of the last
        fold and checks it against the same answer."""
        tokens = {
            str(r[0]): set(r[1])
            for r in pipeline.docs_with_tokens(self.docs, side_from_prefix=False)
            .select("doc_id", "tokens")
            .collect()
        }

        def expected(k):
            return jaccard_components({d: tokens[d] for d in self.prefix_docs(k)}, THRESHOLD)

        out = {
            "streaming_equals_batch": all(
                it["assignment"] == expected(it["input"]) for it in its
            ),
            "one_epoch_per_file": self.epochs_per_fold == {1},
        }
        if tr.enabled:
            cfg = pipeline.ERConfig(
                blocking=B.BlockingConfig(purge=False, filter_ratio=None), threshold=THRESHOLD
            )
            folded = self.docs.where(self.arrival() < self.input_id)
            with tr.span("er_pipeline", layer="pipeline"):
                batch = collect_assignment(
                    pipeline.er_pipeline(folded, cfg, clean_clean=False)["clusters"]
                )
            out["er_pipeline_equals_batch"] = batch == expected(self.input_id)
        return out

    @staticmethod
    def epoch_stats(obs) -> dict:
        batch_s = [b for o in obs for b, _ in o["epochs"]]
        add_s = [a for o in obs for _, a in o["epochs"]]
        return {
            "epochs": len(batch_s),
            "epoch_s_p50": statistics.median(batch_s) if batch_s else 0.0,
            "add_batch_s_p50": statistics.median(add_s) if add_s else 0.0,
        }

    def extra_metrics(self, obs):
        st = self.epoch_stats(obs)
        return {"epoch_s_p50": (st["epoch_s_p50"], "s"), "epochs": (st["epochs"], "count")}

    def layer_metrics(self, obs):
        st = self.epoch_stats(obs)
        return {
            "continuous.epochs": st["epochs"] / len(obs),
            "continuous.epoch_s_p50": st["epoch_s_p50"],
            "continuous.add_batch_s_p50": st["add_batch_s_p50"],
            "continuous.posting_dirs": statistics.median(o["posting_dirs"] for o in obs),
            "continuous.state_bytes": statistics.median(o["store_bytes"] for o in obs),
        }


WORKLOADS = {w.name: w for w in (DirtyOvercap, CleanCleanMaterialized, ContinuousArrivals)}
