"""The three workloads, driven through the program's public API.

Each workload generates its inputs from the seed, sets up, warms up with
untimed calls, and then runs its cycle of calls, whole cycles only, until
the time is up. One client: each call waits for the previous one. Every call is followed by an untimed output check; a call
that raises or fails its check counts as failed.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import check, gen

#: Inputs per workload: large enough that fixed per-job cost is not the
#: whole story, small enough that all runs fit the benchmark's budget.
SIZES = {
    # 600-char payloads put the table above session.py's 64 MB
    # autoBroadcastJoinThreshold on disk, so the target is never broadcast
    "etl_sync": {"rows": 120_000, "rounds": 2, "tar_scale": 5_000, "payload_chars": 600},
    "corpus_prep": {"docs": 1_000, "bench_passages": 100},
    "vector_serve": {"n": 20_000, "dim": 64, "clusters": 64, "batch": 1_000},
}
WARM_SIZES = {
    "etl_sync": {"rows": 2_000, "rounds": 1, "tar_scale": 200, "payload_chars": 600},
}
NLIST, NPROBE, TOPK, QUERIES_PER_PROBE = 64, 8, 10, 4


@dataclass
class Op:
    kind: str
    seconds: float
    rows: int
    ok: bool


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Workload:
    name = ""
    main = side = ""  # op kinds reported as main_* and side_p50_s
    #: the workload's metrics by their own names: an end-to-end metric, or
    #: an op kind whose median latency it is
    NAMED: dict[str, str] = {}
    cycle: tuple[str, ...] = ()

    def __init__(self, tracer, seed: int, tmp: str):
        """Generate the inputs; no session exists yet."""
        self.spark, self.tracer, self.seed, self.tmp = None, tracer, seed, tmp
        self.recalls: list[float] = []

    def out(self, name: str) -> str:
        return os.path.join(self.tmp, "out", name)

    def setup(self, spark) -> None:
        """Set-up the program does before serving (untimed)."""
        self.spark = spark

    def warmup(self) -> list[Op]:
        """Untimed calls, so the timed calls run warm."""
        return []

    def stop(self) -> None:
        """Stop what the workload started in the session."""

    def call(self, kind: str) -> tuple[float, int, list[str]]:
        raise NotImplementedError

    def run_op(self, kind: str, call=None) -> Op:
        try:
            seconds, rows, problems = (call or self.call)(kind)
        except Exception as e:  # a failed call is counted, and the run goes on
            import traceback

            traceback.print_exc()
            log(f"{kind}: raised {type(e).__name__}: {e}")
            return Op(kind, 0.0, 0, False)
        for p in problems:
            log(f"{kind}: check failed: {p}")
        return Op(kind, seconds, rows, not problems)


def _read(spark, tracer, path: str):
    from python_openetl_spark.sources import registry

    with tracer.span("sources.registry.read"):
        return registry.read(spark, {"format": "parquet", "path": path})


class EtlSync(Workload):
    """seed, then upsert rounds, then a tarball ingest; the cycle repeats
    from a fresh seed, so every cycle sees the same inputs."""

    name, main, side = "etl_sync", "upsert", "seed"
    NAMED = {"upsert_p50_s": "main_p50_s", "seed_s": "side_p50_s", "ingest_s": "ingest"}

    def __init__(self, tracer, seed, tmp):
        super().__init__(tracer, seed, tmp)
        self.inputs = os.path.join(tmp, "inputs")
        self.truth = gen.etl_sync(seed, self.inputs, **SIZES[self.name])
        self.warm_inputs = os.path.join(tmp, "warm")
        self.warm_truth = gen.etl_sync(seed, self.warm_inputs, **WARM_SIZES[self.name])
        self.cycle = ("seed",) + tuple(f"upsert{r['round']}" for r in self.truth["rounds"]) + ("ingest",)
        self.sizes = SIZES[self.name]
        from python_openetl_spark.plans import pipelines

        self.pipelines = pipelines
        for attr in ("temporal_delta", "merge_upsert", "propagate_deletes"):
            tracer.wrap(pipelines, attr, f"operators.merge.{attr}")
        tracer.wrap(pipelines.ParquetTable, "overwrite", "plans.parquet_table.overwrite")

    def warmup(self):
        call = lambda kind: self._call(  # noqa: E731
            kind, self.warm_inputs, self.warm_truth, self.out("warm_table"), self.out("warm_ingest"))
        return [self.run_op(kind, call) for kind in ("seed", "upsert1", "ingest")]

    def call(self, kind):
        return self._call(kind, self.inputs, self.truth, self.out("table"), self.out("ingest"))

    def _call(self, kind, inputs, truth, table, ingest_dir):
        P, tr, spark = self.pipelines, self.tracer, self.spark
        if kind == "ingest":
            t0 = time.perf_counter()
            with tr.span("plans.ingest_tarball", out=ingest_dir):
                tables = P.ingest_tarball(spark, os.path.join(inputs, truth["tar"]), ingest_dir)
            seconds = time.perf_counter() - t0
            return seconds, truth["sizes"]["tar_rows"], check.ingested(tables, ingest_dir, truth["tables"])
        r = 0 if kind == "seed" else int(kind[len("upsert"):])
        snapshot = os.path.join(inputs, truth["snapshots"][r])
        t0 = time.perf_counter()
        src = _read(spark, tr, snapshot)
        if r == 0:
            with tr.span("plans.seed", out=table):
                P.seed(src, table)
            problems = []
        else:
            want = truth["rounds"][r - 1]
            with tr.span("plans.upsert_sync", out=table):
                report = P.upsert_sync(spark, src, table, anchor=want["anchor"])
            problems = check.etl_report(report, want)
        seconds = time.perf_counter() - t0
        expected = pq.read_table(snapshot)
        table_problems, share = check.etl_table(check.read_parquet_dir(table), expected)
        problems += table_problems
        self.recalls.append(share)
        return seconds, expected.num_rows, problems


class CorpusPrep(Workload):
    """near_dedup (MinHash-LSH candidates, connected components,
    canonical corpus) and prep (exact dedup, quality and contamination
    gates, PII redaction), each ending in a parquet write."""

    name, main, side = "corpus_prep", "near_dedup", "prep"
    NAMED = {"dedup_s": "main_p50_s", "prep_s": "side_p50_s", "dedup_recall": "recall"}
    # three of each, so the medians drop a call that the host slowed down
    cycle = ("near_dedup", "prep") * 3

    def __init__(self, tracer, seed, tmp):
        super().__init__(tracer, seed, tmp)
        self.inputs = os.path.join(tmp, "inputs")
        self.truth = gen.corpus(seed, self.inputs, **SIZES[self.name])
        self.sizes = SIZES[self.name]
        from python_openetl_spark.operators import cluster, dedup, prep

        self.cluster, self.dedup, self.prep = cluster, dedup, prep
        tracer.wrap(cluster, "connected_components", "operators.cluster.connected_components")

    def warmup(self):
        # one of each on the timed inputs: the first calls start the Python
        # workers and generate code, which costs the same at any input size
        return [self.run_op(kind) for kind in ("near_dedup", "prep")]

    def call(self, kind):
        tr, inputs, truth = self.tracer, self.inputs, self.truth
        out = self.out(kind)
        t0 = time.perf_counter()
        docs = _read(self.spark, tr, os.path.join(inputs, truth["docs"]))
        if kind == "near_dedup":
            with tr.span("operators.dedup.minhash_lsh_candidates"):
                pairs = self.dedup.minhash_lsh_candidates(docs)
            with tr.span("operators.cluster.canonicalize_corpus"):
                result = self.cluster.canonicalize_corpus(docs, pairs)
            action = "operators.cluster.canonicalize_corpus_action"
        else:
            bench = _read(self.spark, tr, os.path.join(inputs, truth["benchmark"]))
            with tr.span("operators.prep.prepare_corpus"):
                result = self.prep.prepare_corpus(docs, bench)
            action = "operators.prep.prepare_corpus_action"
        with tr.span(action, out=out):
            result.write.mode("overwrite").parquet(out)
        seconds = time.perf_counter() - t0
        got = check.read_parquet_dir(out)
        if kind == "near_dedup":
            problems, rec = check.near_dedup(got, truth)
            self.recalls.append(rec)
        else:
            problems = check.prepared(got, truth)
        return seconds, truth["n_docs"], problems


class VectorServe(Workload):
    """A persisted IVF store serving top-k probes while one long-lived
    file stream appends batches into it."""

    name, main, side = "vector_serve", "probe", "fresh"
    NAMED = {"probe_p50_s": "main_p50_s", "probe_tail_s": "main_tail_s",
             "fresh_p50_s": "side_p50_s", "recall_at_10": "recall"}
    cycle = ("fresh", "probe") * 3
    SCHEMA = "vec_id long, embedding array<float>"

    def __init__(self, tracer, seed, tmp):
        super().__init__(tracer, seed, tmp)
        inputs = os.path.join(tmp, "inputs")
        self.sizes = SIZES[self.name]
        self.space, truth = gen.vectors(seed, inputs, **self.sizes)
        self.base = os.path.join(inputs, truth["base"])
        self.root = self.out("store")
        self.stream_in = os.path.join(tmp, "stream_in")
        self.staging = os.path.join(tmp, "stream_stage")
        self.batches = self.probes = self.warm_batches = 0
        self.query = None
        base = self.space.base()
        self.live_ids = [np.arange(len(base), dtype=np.int64)]
        self.live_vecs = [base]
        from python_openetl_spark.operators import ivf_store

        self.ivf = ivf_store
        tracer.wrap(ivf_store, "append_to_ivf_store", "operators.ivf_store.append_to_ivf_store",
                    main_thread_only=False)

    def setup(self, spark):
        super().setup(spark)
        from python_openetl_spark.streaming.sinks import IvfAppendSink
        from python_openetl_spark.streaming.sources import read_file_stream

        tr = self.tracer
        corpus = _read(self.spark, tr, self.base)
        with tr.span("operators.ivf_store.build_ivf_store", out=self.root):
            self.ivf.build_ivf_store(corpus, self.root, nlist=NLIST)
        os.makedirs(self.stream_in)
        os.makedirs(self.staging)
        ckpt = os.path.join(self.tmp, "stream_ckpt")
        with tr.span("streaming.read_file_stream"):
            stream = read_file_stream(self.spark, self.stream_in, self.SCHEMA)
        with tr.span("streaming.ivf_append.start"):
            self.query = (
                stream.writeStream.foreachBatch(IvfAppendSink(self.root, stream_id=ckpt))
                .option("checkpointLocation", ckpt)
                .start()
            )
        tr.watch_group(str(self.query.runId))

    def warmup(self):
        ops = [self.run_op(kind) for kind in ("fresh", "probe")]
        self.warm_batches = self.batches
        return ops

    def stop(self):
        if self.query is None:
            return
        # one micro-batch per landed file; a batch's progress can post just
        # after processAllAvailable returns, so read them all at the end
        batches = sorted((p for p in self.query.recentProgress if p.numInputRows),
                         key=lambda p: p.batchId)
        for p in batches[self.warm_batches:]:
            for phase, ms in p.durationMs.items():
                self.tracer.add(f"streaming.ivf_append.{phase}_ms", ms)
        self.query.stop()
        self.query = None

    def call(self, kind):
        return self._fresh() if kind == "fresh" else self._probe()

    def _fresh(self):
        ids, vecs = self.space.batch_vectors(self.batches)
        name = f"batch_{self.batches:06d}.parquet"
        self.batches += 1
        staged = os.path.join(self.staging, name)
        pq.write_table(gen.vector_table(ids, vecs), staged)
        t0 = time.perf_counter()
        os.replace(staged, os.path.join(self.stream_in, name))  # lands atomically
        with self.tracer.span("streaming.ivf_append.process", out=self.root):
            self.query.processAllAvailable()
        seconds = time.perf_counter() - t0
        if self.query.exception() is not None:
            raise RuntimeError(f"stream failed: {self.query.exception()}")
        problems = check.appended(check.store_ids(self.root), ids)
        if not problems:
            self.live_ids.append(ids)
            self.live_vecs.append(vecs)
        return seconds, 0, problems

    def _probe(self):
        qids, qvecs = self.space.queries(self.probes, QUERIES_PER_PROBE)
        self.probes += 1
        pdf = pd.DataFrame({"query_id": qids, "embedding": list(qvecs)})
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span("operators.ivf_store.ivf_store_topk"):
            df = self.ivf.ivf_store_topk(self.spark, self.root, pdf, k=TOPK, nprobe=NPROBE)
        with tr.span("operators.ivf_store.ivf_store_topk_action"):
            result = df.toPandas()
        seconds = time.perf_counter() - t0
        ids = np.concatenate(self.live_ids)
        store = np.concatenate(self.live_vecs)
        live = dict(zip(ids.tolist(), range(len(ids))))
        problems = check.probe(result, qids, qvecs, live, store, TOPK)
        self.recalls.append(check.recall(result, qids, gen.exact_topk(ids, store, qvecs, TOPK)))
        return seconds, len(qids), problems


WORKLOADS = {w.name: w for w in (EtlSync, CorpusPrep, VectorServe)}
