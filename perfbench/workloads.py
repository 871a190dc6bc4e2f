"""The benchmark's workloads. Each is a closed loop with one client: the
next unit of work starts when the previous one has finished.

``batch``: one unit is a curation pass (``dedup_minhash_lsh``,
``dedup_containment``, ``dedup_ngram_jaccard`` and
``dedup_keep_canonical``, each written to a parquet sink) followed by one
``jobs.run_analysis_job`` over the same corpus.

``serve``: set-up builds the text, IVF-PQ and dedup indexes over the
corpus; one unit is an ingest cycle: a batch of new documents goes through
``dedup_index_check``, the admitted ones through ``dedup_index_add``,
``text_index_add`` and ``ivfpq_index_add``, then pairs of a BM25 request
(``text_index_query``) and a k-NN request (``ann_ivfpq_index_query``) are
answered. The unit's inputs are generated, and its vectors copied into the
primary vector store the k-NN rerank reads, before the unit's timing starts.

Warm-up is fixed and untimed. batch: one unit, its four curation calls and
its job side by side in threads. serve: the three index builds side by
side, each followed by a first read of its index and a first append of
batch 0, so a timed unit makes no first call. Running independent calls
together pays the cold-JVM cost once, not once per call; timed units never
overlap anything.

Every unit ends with correctness checks, outside its timing; a unit whose
check fails counts as a failed operation.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
from metrics import CURATION, JOB_STAGES

# Share of planted near-duplicates the MinHash/LSH operators must find.
# A planted copy differs from its 40-60 word source in one word trigram
# (Jaccard >= 0.95), which 4 bands of 4 hashes miss with p ~ 1e-3.
DUP_RECALL_FLOOR = 0.9
# k-NN recall@10 floor against exact cosine, the floor the engine's own
# test pins for the composed IVF + PQ approximation.
KNN_RECALL_FLOOR = 0.2


class CheckFailed(Exception):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _rows_digest(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


def _side_by_side(*calls) -> list:
    with ThreadPoolExecutor(len(calls)) as ex:
        return [f.result() for f in [ex.submit(c) for c in calls]]


def run_df(tr, name: str, build, action):
    """construct -> (traced runs: plan) -> exec, one span per phase."""
    sp = tr.begin(name, "construct")
    df = build()
    tr.end(sp)
    if sp is not None:
        # a planning pass the action then repeats: tracing overhead
        sp = tr.begin(name, "plan")
        df._jdf.queryExecution().executedPlan()
        tr.end(sp)
        tr.overhead_s += sp["end"] - sp["start"]
    sp = tr.begin(name, "exec")
    out = action(df)
    tr.end(sp)
    return out


def _files_under(*paths: str) -> tuple[int, int]:
    n = size = 0
    for path in paths:
        for root, _, files in os.walk(path):
            for f in files:
                if not f.startswith((".", "_")):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
    return n, size


class Batch:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = ctx.inputs["sf_dir"]
        self.sink = os.path.join(ctx.run_dir, "sink")
        self.jobs_root = os.path.join(ctx.run_dir, "jobs")
        self.unit_docs = ctx.inputs["n_docs"]
        self.stats: dict[str, list[float]] = {"dedup_minhash_lsh.planted_recall": []}
        self.first_stages = self.first_digests = None

    def setup(self) -> None:
        queries, tr = self.ctx.queries, self.ctx.tr
        if tr.enabled:
            # stage spans: construct is the registered call; exec runs from
            # its return until the job starts the next stage
            for stage in JOB_STAGES:

                def hooked(spark, sf_dir, _fn=queries[stage], _stage=stage):
                    sp = tr.begin(_stage, "construct")
                    df = _fn(spark, sf_dir)
                    tr.end(sp)
                    tr.begin_open(_stage, "exec")
                    return df

                queries[stage] = hooked
        pairs = pq.read_table(self.ctx.inputs["planted"]).to_pylist()
        self.planted = {(p["doc_a"], p["doc_b"]) for p in pairs}

    def _curate_one(self, fn: str) -> None:
        run_df(
            self.ctx.tr, fn,
            lambda: self.ctx.queries[fn](self.ctx.spark, self.sf),
            lambda df: df.write.mode("overwrite").parquet(os.path.join(self.sink, fn)),
        )

    def _job(self, u: int) -> None:
        from sentiment_analysis_vector_search_spark.jobs import run_analysis_job

        with self.ctx.tr.span("run_analysis_job"):
            self.manifest = run_analysis_job(self.ctx.spark, self.sf, self.jobs_root, f"job{u}")

    def warmup(self) -> None:
        with self.ctx.tr.side_by_side():
            _side_by_side(lambda: self._job("warmup"), *[lambda fn=fn: self._curate_one(fn) for fn in CURATION])
        self.verify("warmup")

    def prepare(self, u: int) -> None:
        pass

    def unit(self, u) -> None:
        for fn in CURATION:
            self._curate_one(fn)
        self._job(u)

    def verify(self, u) -> None:
        # outputs are read back with pyarrow: checking starts no Spark job
        man = self.manifest
        check(man["status"] == "succeeded", f"job{u} status {man['status']}")
        self.first_stages = self.first_stages or man["stages"]
        check(man["stages"] == self.first_stages, f"job{u} stage row counts differ from the warm-up job's")
        dist = pq.read_table(os.path.join(self.jobs_root, f"job{u}", "sent_distribution"), columns=["n"])
        check(pc.sum(dist.column("n")).as_py() == self.unit_docs, f"job{u} sent_distribution does not sum to the corpus")
        outs = {fn: pq.read_table(os.path.join(self.sink, fn)).to_pylist() for fn in CURATION}
        digests = {fn: _rows_digest(r.values() for r in rows) for fn, rows in outs.items()}
        if self.first_digests is None:
            self.first_digests = digests
            found = {(r["doc_a"], r["doc_b"]) for r in outs["dedup_minhash_lsh"] if r["jaccard"] >= 0.5}
            recall = len(found & self.planted) / max(len(self.planted), 1)
            self.stats["dedup_minhash_lsh.planted_recall"].append(recall)
            check(recall >= DUP_RECALL_FLOOR, f"dedup_minhash_lsh found {recall:.2f} of the planted pairs")
        for fn, d in digests.items():
            check(d == self.first_digests[fn], f"pass {u}: {fn} output differs from the warm-up pass")


class Serve:
    def __init__(self, ctx):
        self.ctx = ctx
        self.sf = ctx.inputs["sf_dir"]
        self.inputs_dir = os.path.dirname(self.sf)
        self.tdir, self.idir, self.ddir, self.store = (
            os.path.join(ctx.run_dir, x) for x in ("text_index", "ivfpq_index", "dedup_index", "vector_store")
        )
        self.unit_docs = gen.SIZES["serve"]["batch_docs"]
        self.stats: dict[str, list[float]] = {}

    def _reset_stats(self) -> None:
        self.stats = {
            k: [] for k in (
                "ann_ivfpq_index_query.recall_at_10", "dedup_index_check.dup_recall", "index.files",
                "index.bytes", "index.files_written", "requests.first_half_s", "requests.second_half_s",
            )
        }

    def _chain(self, name: str, build, *then):
        """``build`` (recorded as a span), then the calls in ``then``;
        returns their results."""

        def call():
            t = time.perf_counter()
            build()
            self.ctx.tr.record(name, t, time.perf_counter())
            return [f() for f in then]

        return call

    def setup(self) -> None:
        # the primary vector store the k-NN rerank reads: plain parquet files
        # the benchmark itself appends to
        os.makedirs(self.store)
        t = pq.read_table(os.path.join(self.sf, "embeddings.parquet"), columns=["vec_id", "embedding"])
        pq.write_table(t, os.path.join(self.store, "part-0.parquet"))
        self.vec_ids = t.column("vec_id").to_numpy()
        self.vecs = np.stack(t.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        self.n_indexed = self.ctx.inputs["n_docs"]
        self._reset_stats()

    def warmup(self) -> None:
        """Build the three indexes side by side, next to the reference
        ``bm25_retrieve``. Each build is followed by a first read of its
        index (the default-words BM25 request, a k-NN request, a dedup
        check of batch 0) and a first append of batch 0 without its
        planted duplicates, so a timed unit makes no first call."""
        from pyspark.sql import functions as F

        from sentiment_analysis_vector_search_spark.catalog import table
        from sentiment_analysis_vector_search_spark.operators.dedup_index import (
            build_dedup_index, dedup_index_add, dedup_index_check,
        )
        from sentiment_analysis_vector_search_spark.operators.ivfpq import build_ivfpq_index, ivfpq_index_add
        from sentiment_analysis_vector_search_spark.operators.text_index import build_text_index, text_index_add

        spark = self.ctx.spark
        self._prepare(0)
        corpus = table(spark, self.sf, "documents")
        planted = pq.read_table(self.batch["planted"]).column("new_doc_id").to_pylist()
        new_docs = spark.read.parquet(self.batch["docs"])
        docs = new_docs.where(~F.col("doc_id").isin(planted))
        vecs = spark.read.parquet(self.batch["vecs"]).where(~F.col("vec_id").isin(planted))
        vecs = vecs.select("vec_id", F.col("embedding").alias("v"))
        with self.ctx.tr.side_by_side():
            (got, added), (knn, _), (dups, _), want = _side_by_side(
                self._chain("build_text_index", lambda: build_text_index(spark, corpus, self.tdir),
                            lambda: self._bm25(tuple(self.reqs[0]["words"])),
                            lambda: text_index_add(spark, docs, self.tdir)[0]),
                self._chain("build_ivfpq_index", lambda: build_ivfpq_index(spark, self.sf, self.idir),
                            lambda: self._knn(self.reqs[1]),
                            lambda: ivfpq_index_add(spark, self.idir, vecs)),
                self._chain("build_dedup_index", lambda: build_dedup_index(spark, corpus, self.ddir),
                            lambda: dedup_index_check(spark, new_docs, self.ddir)
                            .where("is_duplicate").select("new_doc_id").distinct().collect(),
                            lambda: dedup_index_add(spark, docs, self.ddir)),
                lambda: self.ctx.queries["bm25_retrieve"](spark, self.sf).orderBy("rk").collect(),
            )
        # the first request of unit 0 is the default word set: the index must
        # answer it exactly like the registered batch query
        check(got == [tuple(r) for r in want], "default BM25 request differs from bm25_retrieve")
        # the k-NN request ran before batch 0 was added: exact over the corpus
        self._check_knn(0, knn, np.array(self.reqs[1]["qv"]))
        self._check_dups(0, {r[0] for r in dups})
        self.rejected, self.added = planted, added
        self._admit(0)
        self.n_files = _files_under(self.tdir, self.idir, self.ddir, self.store)[0]
        self._reset_stats()

    def _prepare(self, b: int) -> None:
        """Generate batch ``b`` and its requests, and put all its vectors
        in the primary store (only admitted ones reach the index, and the
        rerank reads the store only for indexed candidates)."""
        self.batch = gen.ingest_batch(self.inputs_dir, self.ctx.seed, b)
        self.reqs = pq.read_table(gen.requests(self.inputs_dir, self.ctx.seed, b)).to_pylist()
        vecs = pq.read_table(self.batch["vecs"], columns=["vec_id", "embedding"])
        pq.write_table(vecs, os.path.join(self.store, f"part-{b + 1}.parquet"))

    def prepare(self, u: int) -> None:
        self._prepare(u + 1)

    def unit(self, u: int) -> None:
        self._ingest(u + 1)

    def verify(self, u: int) -> None:
        self._verify(u + 1)

    def _bm25(self, words: tuple[str, ...]) -> list[tuple]:
        from sentiment_analysis_vector_search_spark.operators.text_index import text_index_query

        rows = run_df(
            self.ctx.tr, "text_index_query",
            lambda: text_index_query(self.ctx.spark, self.tdir, words),
            lambda df: df.collect(),
        )
        return sorted((tuple(r) for r in rows), key=lambda r: r[2])

    def _knn(self, req: dict) -> list:
        from pyspark.sql import functions as F

        from sentiment_analysis_vector_search_spark.operators.ivfpq import ann_ivfpq_index_query

        spark = self.ctx.spark
        store = spark.read.parquet(self.store).select("vec_id", F.col("embedding").alias("v"))
        q = spark.createDataFrame([(req["req_id"], req["qv"])], "query_id long, qv array<double>")
        return run_df(
            self.ctx.tr, "ann_ivfpq_index_query",
            lambda: ann_ivfpq_index_query(spark, self.idir, q, store),
            lambda df: df.collect(),
        )

    def _ingest(self, b: int) -> None:
        from pyspark.sql import functions as F

        from sentiment_analysis_vector_search_spark.operators.dedup_index import dedup_index_add, dedup_index_check
        from sentiment_analysis_vector_search_spark.operators.ivfpq import ivfpq_index_add
        from sentiment_analysis_vector_search_spark.operators.text_index import text_index_add

        spark, tr, batch = self.ctx.spark, self.ctx.tr, self.batch
        docs = spark.read.parquet(batch["docs"])
        rejected = run_df(
            tr, "dedup_index_check",
            lambda: dedup_index_check(spark, docs, self.ddir),
            lambda df: df.where("is_duplicate").select("new_doc_id").distinct().collect(),
        )
        self.rejected = sorted(r[0] for r in rejected)
        vecs = spark.read.parquet(batch["vecs"]).select("vec_id", F.col("embedding").alias("v"))
        if self.rejected:
            docs = docs.where(~F.col("doc_id").isin(self.rejected))
            vecs = vecs.where(~F.col("vec_id").isin(self.rejected))
        with tr.span("dedup_index_add"):
            dedup_index_add(spark, docs, self.ddir)
        with tr.span("text_index_add"):
            self.added = text_index_add(spark, docs, self.tdir)[0]
        with tr.span("ivfpq_index_add"):
            ivfpq_index_add(spark, self.idir, vecs)
        self.answers, self.pair_s = [], []
        for bm25_req, knn_req in zip(self.reqs[0::2], self.reqs[1::2]):
            t = time.perf_counter()
            bm25 = self._bm25(tuple(bm25_req["words"]))
            knn = self._knn(knn_req)
            self.pair_s.append(time.perf_counter() - t)
            self.answers.append((bm25, knn, np.array(knn_req["qv"])))

    def _check_dups(self, b: int, rej: set) -> None:
        planted = set(pq.read_table(self.batch["planted"]).column("new_doc_id").to_pylist())
        check(rej <= planted, f"batch {b}: non-duplicates rejected: {sorted(rej - planted)[:5]}")
        recall = len(rej & planted) / max(len(planted), 1)
        self.stats["dedup_index_check.dup_recall"].append(recall)
        check(recall >= DUP_RECALL_FLOOR, f"batch {b}: duplicate recall {recall:.2f}")

    def _check_knn(self, b: int, knn: list, qv: np.ndarray) -> None:
        """k-NN answer against the exact cosine top-10 over the indexed
        vectors, by numpy."""
        cos = self.vecs @ qv / (np.linalg.norm(self.vecs, axis=1) * np.linalg.norm(qv))
        exact = set(self.vec_ids[np.argsort(-cos, kind="stable")[:10]].tolist())
        check(len(knn) == 10, f"batch {b}: k-NN returned {len(knn)} rows")
        recall = len({r["vec_id"] for r in knn} & exact) / 10
        self.stats["ann_ivfpq_index_query.recall_at_10"].append(recall)
        check(recall >= KNN_RECALL_FLOOR, f"batch {b}: k-NN recall@10 {recall:.2f}")

    def _admit(self, b: int) -> None:
        """Account for the admitted documents of batch ``b`` (all but
        ``self.rejected``) and check the text index took exactly them."""
        batch, rej = self.batch, set(self.rejected)
        admitted = batch["n_docs"] - len(rej)
        check(self.added == admitted, f"batch {b}: text_index_add indexed {self.added} of {admitted} docs")
        self.n_indexed += admitted
        with open(os.path.join(self.tdir, "manifest.json")) as f:
            check(json.load(f)["n_docs"] == self.n_indexed, f"batch {b}: text index n_docs != docs admitted")
        new = pq.read_table(batch["vecs"], columns=["vec_id", "embedding"])
        new = new.filter(pc.invert(pc.is_in(new.column("vec_id"), pa.array(sorted(rej), pa.int64()))))
        self.vec_ids = np.concatenate([self.vec_ids, new.column("vec_id").to_numpy()])
        self.vecs = np.concatenate(
            [self.vecs, np.stack(new.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)]
        )

    def _verify(self, b: int) -> None:
        self._check_dups(b, set(self.rejected))
        self._admit(b)
        for bm25, knn, qv in self.answers:
            check(bool(bm25) and [r[2] for r in bm25] == list(range(1, len(bm25) + 1)),
                  f"batch {b}: malformed BM25 answer")
            self._check_knn(b, knn, qv)
        half = len(self.pair_s) // 2
        self.stats["requests.first_half_s"].append(float(np.mean(self.pair_s[:half])))
        self.stats["requests.second_half_s"].append(float(np.mean(self.pair_s[half:])))
        n_files, n_bytes = _files_under(self.tdir, self.idir, self.ddir, self.store)
        self.stats["index.files_written"].append(n_files - self.n_files)
        self.stats["index.files"].append(n_files)
        self.stats["index.bytes"].append(n_bytes)
        self.n_files = n_files


WORKLOADS = {"batch": Batch, "serve": Serve}
