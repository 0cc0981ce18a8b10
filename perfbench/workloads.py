"""The two benchmark workloads.

Each workload is one closed-loop client: it issues its next operation
only after the previous one has completed and been checked. A workload
provides

- ``setup(spark)``: generate the seeded inputs into a fresh directory,
  load them, and warm up with one untimed operation (counted in
  ``setup_s``);
- ``run_op(spark, tracer)``: one timed operation, wrapped in spans;
- ``check(rec)``: untimed correctness checks of that operation's outputs
  against the exact answers computed by ``compute_oracle``;
- ``reset(rec)``: untimed clean-up so that every operation starts from
  the same state (blocking unpersist, fresh checkpoint and state dirs,
  ``gc.collect``);
- ``traced_extras(spark, tracer)``: calls made once in the traced run,
  after the loop;
- ``end_to_end`` / ``layer_metrics``: the metrics of a list of records.

Why these two (the prediction each one carries is in README.md):

- ``sketch_dist`` is dashing's own pipeline (sketch once, then answer
  distance and cardinality queries). Its time sits in the sketch
  kernels, the two-stage aggregation and the pair compare; it runs no
  dedup and shuffles only sketch blobs.
- ``dedup_batch`` spends its time in the LSH candidate join and the
  shuffle around it, on a corpus whose pair graph is dense; it calls no
  sketch aggregation and writes no snapshot. Its traced run also feeds
  part of the corpus through the streaming index in equal epochs, with
  compaction firing in the last one: the only calls that commit
  streaming state.
"""

from __future__ import annotations

import gc
import math
import os
import shutil
import statistics

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import inputs
import kernels
from tracing import CORES, Tracer, counters_for

from dashing_spark.functions import HLL, KLL, sketch_from_bytes
from dashing_spark.operators import agg, dedup, dist, freq
from dashing_spark.params import SketchParams
from dashing_spark.plans import pipeline
from dashing_spark.sources import sinks, tables
from dashing_spark.streaming import dedup_stream

#: near-duplicate Jaccard threshold of dedup_batch
THRESHOLD = 0.9


def files_under(root: str) -> dict[str, int]:
    """Size in bytes of every file under ``root``, by path."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class Workload:
    name = ""
    #: operations a run always completes, however short ``--seconds`` is
    min_ops = 1
    #: name of the span that is one operation (spark.* metrics are per op)
    op_span = ""

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.work = work_dir
        self._n_setup = 0
        self._n_op = 0

    def fresh_dir(self, prefix: str) -> str:
        self._n_op += 1
        path = os.path.join(self.work, f"{prefix}{self._n_op}")
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def setup(self, spark) -> None:
        if self._n_setup:
            shutil.rmtree(self.input_dir, ignore_errors=True)
        self._n_setup += 1
        self.input_dir = os.path.join(self.work, f"inputs{self._n_setup}")
        os.makedirs(self.input_dir)
        self.generate()
        self.load(spark)
        self.warm_up(spark)

    def warm_up(self, spark) -> None:
        """One full operation, so that the first timed one finds every
        Python worker started and every code path compiled."""
        self.reset(self.run_op(spark, Tracer("warm", False)))

    def reset(self, rec) -> None:
        for path in (rec or {}).get("dirs", []):
            shutil.rmtree(path, ignore_errors=True)
        gc.collect()

    # -- metric helpers ---------------------------------------------------
    def spark_metrics(self, tracer, stages, jobs) -> dict:
        per_op = [
            (s, counters_for(tracer, [s], stages, jobs))
            for s in tracer.named(self.op_span)
        ]
        return {
            "spark.jobs": median(c.jobs for _, c in per_op),
            "spark.stages": median(c.stages for _, c in per_op),
            "spark.tasks": median(c.tasks for _, c in per_op),
            "spark.task_cpu_s": median(c.cpu_s for _, c in per_op),
            "spark.gc_s": median(c.gc_s for _, c in per_op),
            "spark.shuffle_write_bytes": median(c.shuffle_write_bytes for _, c in per_op),
            "spark.spill_bytes": median(c.spill_bytes for _, c in per_op),
            "spark.core_util": median(
                c.cpu_s / (s.seconds * CORES) for s, c in per_op
            ),
        }

    def traced_extras(self, spark, tracer) -> tuple[dict, list[list[str]]]:
        """Calls made once, after the traced loop: (values for
        ``layer_metrics``, the check errors of each extra operation)."""
        return {}, []

    def kernel_inputs(self, recs):
        """(texts, values, keys, hll blobs or None) for kernels.py."""
        raise NotImplementedError


# ------------------------------------------------------------ sketch_dist
class SketchDist(Workload):
    name = "sketch_dist"
    min_ops = 2
    op_span = "sketch_dist.op"
    n_pages = 20_000
    n_sites = 200
    vocab = 20_000
    hll_p = kernels.HLL_P
    kll_k = kernels.KLL_K
    cms_lg_width = kernels.CMS_LG_WIDTH
    cms_depth = kernels.CMS_DEPTH
    #: DataSketches' double-sided normalized rank error for KLL at k=200
    #: (99% confidence): 2.446 / k**0.9433
    kll_eps = 2.446 / kll_k**0.9433

    def generate(self) -> None:
        self.pages, self.tok, self.lens = inputs.gen_pages(
            self.n_pages, self.n_sites, self.vocab, self.seed
        )
        self.pages.to_parquet(os.path.join(self.input_dir, "pages.parquet"), index=False)

    def load(self, spark) -> None:
        self.docs = tables.load_table(spark, self.input_dir, "pages")
        self.docs.count()

    def compute_oracle(self, spark) -> None:
        self.exact_distinct = inputs.site_distinct_counts(
            self.pages, self.tok, self.lens, self.vocab
        )
        self.lang_counts = inputs.lang_token_counts(
            self.pages, self.tok, self.lens, self.vocab
        )
        self.lang_values = {
            lg: np.sort(g["n_chars"].to_numpy())
            for lg, g in self.pages.groupby("lang")
        }
        # token hashes as the CMS build computes them (JVM xxhash64)
        words = pd.DataFrame({"token": [f"w{i}" for i in range(self.vocab)]})
        self.token_hash = (
            spark.createDataFrame(words)
            .select(F.xxhash64("token").alias("h"))
            .toPandas()["h"]
            .to_numpy(dtype=np.int64)
            .view(np.uint64)
        )

    def run_op(self, spark, tracer) -> dict:
        ck = self.fresh_dir("ckpt")
        out_dir = self.fresh_dir("packed")
        out = os.path.join(out_dir, "pairs.bin")
        # the sketch factories ship to the workers: capture plain ints,
        # never ``self`` (it holds DataFrames)
        p, k = self.hll_p, self.kll_k
        params = SketchParams(p=p)
        make = lambda: HLL.empty(p)  # noqa: E731
        # the sinks read pair columns a_key/b_key, so the site is the key
        docs = self.docs.withColumnRenamed("site", "key")
        with tracer.span(self.op_span) as op:
            with tracer.span("plans.build") as s_build:
                _, built = pipeline.build_or_resume_sketch_table(
                    docs, ["key"], make, ck, params=params
                )
            with tracer.span("plans.resume") as s_resume:
                sk, resumed = pipeline.build_or_resume_sketch_table(
                    docs, ["key"], make, ck, params=params
                )
            with tracer.span("operators.agg.kll") as s_kll:
                kll_rows = agg.sketch_numeric_by_key(
                    docs, ["lang"], lambda: KLL.empty(k), "n_chars"
                ).collect()
            with tracer.span("operators.freq.cms") as s_cms:
                cms_rows = freq.cms_by_key(
                    docs, ["lang"], lg_width=self.cms_lg_width, depth=self.cms_depth
                ).collect()
            with tracer.span("operators.dist.all_pairs") as s_pairs:
                pairs = dist.all_pairs(
                    sk, ["key"], measures=("ji", "mash_dist", "containment")
                ).cache()
                n_pairs = pairs.count()
            with tracer.span("sources.sinks.write_packed") as s_write:
                keys = sinks.write_packed_binary(pairs, "ji", out)
        ck_bytes = sum(files_under(ck).values())
        return {
            "op": op, "build": s_build, "resume": s_resume, "kll": s_kll,
            "cms": s_cms, "all_pairs": s_pairs, "write": s_write,
            "built": built, "resumed": resumed, "sketches": sk,
            "kll_rows": kll_rows, "cms_rows": cms_rows, "pairs": pairs,
            "n_pairs": n_pairs, "keys": keys, "packed": out,
            "ck_bytes": ck_bytes, "dirs": [ck, out_dir],
        }

    def check(self, rec) -> list[str]:
        errs = []
        if rec["built"].resumed or not rec["resumed"].resumed:
            errs.append("second build_or_resume call did not resume")
        # HLL: the published error is 1.04/sqrt(m) per estimate, so a
        # 3-sigma band holds each key with probability 0.997. Over
        # hundreds of keys a few fall outside by chance; fail when more
        # than 2% do, or when any key is off by more than 5 sigma.
        sk = rec["sketches"].toPandas()
        rec["blobs"] = list(sk["sketch"])
        sigma = 1.04 / math.sqrt(1 << self.hll_p)
        rel = np.array([
            abs(sketch_from_bytes(b).estimate() - self.exact_distinct[s])
            / self.exact_distinct[s]
            for s, b in zip(sk["key"], sk["sketch"])
        ])
        rec["hll_rel_err_max"] = float(rel.max())
        outside = float((rel > 3 * sigma).mean())
        if len(sk) != self.n_sites or outside > 0.02 or rel.max() > 5 * sigma:
            errs.append(
                f"HLL: {len(sk)} sites, {outside:.1%} beyond 3 sigma, "
                f"max rel err {rel.max():.4f}"
            )
        # KLL: rank error of quantiles 0.01..0.99 within eps
        qs = np.linspace(0.01, 0.99, 99)
        worst = 0.0
        for row in rec["kll_rows"]:
            vals = self.lang_values[row["lang"]]
            est = sketch_from_bytes(row["sketch"]).quantile(qs)
            lo = np.searchsorted(vals, est, "left") / len(vals)
            hi = np.searchsorted(vals, est, "right") / len(vals)
            err = np.where(qs < lo, lo - qs, np.where(qs > hi, qs - hi, 0.0))
            worst = max(worst, float(err.max()))
        rec["kll_rank_err_max"] = worst
        if len(rec["kll_rows"]) != len(self.lang_values) or worst > self.kll_eps:
            errs.append(f"KLL: max rank err {worst:.4f} > {self.kll_eps:.4f}")
        # CMS: never under; over by more than eps * N (eps = e / width)
        # for at most a delta = exp(-depth) share of the tokens
        eps = math.e / (1 << self.cms_lg_width)
        delta = math.exp(-self.cms_depth)
        worst = 0.0
        for row in rec["cms_rows"]:
            present, exact, total = self.lang_counts[row["lang"]]
            est = sketch_from_bytes(row["sketch"]).query_hashes(self.token_hash[present])
            over = (est.astype(np.int64) - exact) / total
            if (over < 0).any():
                errs.append(f"CMS undercounts a token of lang {row['lang']}")
            if (over > eps).mean() > delta:
                errs.append(f"CMS: over {eps:.2e} N for more than {delta:.1%} of tokens")
            worst = max(worst, float(over.max()))
        rec["cms_overcount_max"] = worst
        if len(rec["cms_rows"]) != len(self.lang_counts):
            errs.append(f"CMS: {len(rec['cms_rows'])} sketches for {len(self.lang_counts)} langs")
        # dist: every pair once, and the packed matrix round-trips ji
        pairs = rec["pairs"].select("a_key", "b_key", "ji", "mash_dist", "containment").toPandas()
        n_keys = len(rec["keys"])
        if len(pairs) != n_keys * (n_keys - 1) // 2 or len(pairs) != rec["n_pairs"]:
            errs.append(f"all_pairs returned {len(pairs)} rows for {n_keys} keys")
        mat = sinks.read_packed_binary(rec["packed"], rec["keys"])
        idx = pd.Index(rec["keys"])
        got = mat.to_numpy()[idx.get_indexer(pairs["a_key"]), idx.get_indexer(pairs["b_key"])]
        if not np.array_equal(got, pairs["ji"].to_numpy().astype(np.float32)):
            errs.append("packed binary matrix does not round-trip all_pairs ji")
        vals = pairs[["ji", "mash_dist", "containment"]].to_numpy()
        if not np.isfinite(vals).all() or (pairs["ji"] < 0).any() or (pairs["ji"] > 1).any():
            errs.append("all_pairs returned a non-finite or out-of-range measure")
        return errs

    def reset(self, rec) -> None:
        if rec and rec.get("pairs") is not None:
            rec["pairs"].unpersist(blocking=True)
            rec["pairs"] = rec["sketches"] = None
        super().reset(rec)

    def end_to_end(self, recs) -> dict:
        return {
            "docs_per_s": median(
                self.n_pages / (r["build"].seconds + r["kll"].seconds + r["cms"].seconds)
                for r in recs
            ),
            "op_s_p50": median(r["op"].seconds for r in recs),
        }

    def layer_metrics(self, tracer, recs, stages, jobs, extras) -> dict:
        kll = [counters_for(tracer, [r["kll"]], stages, jobs) for r in recs]
        prs = [counters_for(tracer, [r["all_pairs"]], stages, jobs) for r in recs]
        return {
            "operators.agg.build_s": median(r["kll"].seconds for r in recs),
            "operators.agg.task_cpu_s": median(c.cpu_s for c in kll),
            "operators.agg.tasks": median(c.tasks for c in kll),
            "operators.agg.shuffle_bytes": median(c.shuffle_write_bytes for c in kll),
            "operators.freq.cms_s": median(r["cms"].seconds for r in recs),
            "plans.build_s": median(r["build"].seconds for r in recs),
            "plans.resume_s": median(r["resume"].seconds for r in recs),
            "plans.bytes_written": median(r["ck_bytes"] for r in recs),
            "operators.dist.all_pairs_s": median(r["all_pairs"].seconds for r in recs),
            "operators.dist.task_cpu_s": median(c.cpu_s for c in prs),
            "operators.dist.tasks": median(c.tasks for c in prs),
            "sources.sinks.write_packed_s": median(r["write"].seconds for r in recs),
            "sketch_dist.hll_rel_err_max": max(r["hll_rel_err_max"] for r in recs),
            "sketch_dist.kll_rank_err_max": max(r["kll_rank_err_max"] for r in recs),
            "sketch_dist.cms_overcount_max": max(r["cms_overcount_max"] for r in recs),
        }

    def kernel_inputs(self, recs):
        blobs = next((r["blobs"] for r in reversed(recs) if "blobs" in r), None)
        batch = self.pages.iloc[:20_000]
        return batch["text"], batch["n_chars"], batch["site"], blobs


# ------------------------------------------------------------ dedup_batch
class DedupBatch(Workload):
    """Batch near-duplicate removal: ``minhash_lsh_dedup`` at t=0.9, then
    ``connected_components`` over the verified pairs, on documents of
    the ``gen_documents`` scheme. The traced run also feeds the first
    ``STREAM_DOCS`` documents through ``streaming.dedup_stream`` in
    ``STREAM_EPOCHS`` equal epochs, outside the loop."""

    name = "dedup_batch"
    min_ops = 1
    op_span = "dedup_batch.op"
    #: large enough that the single-task stage is about a third of an
    #: operation, small enough that a traced run, stream included, stays
    #: well inside its time limit on a loaded host (README.md, "Sizing")
    n_docs = 1000
    #: the warm-up runs one operation on this many documents: enough to
    #: start every Python worker and compile every code path, for less
    #: than a full operation costs
    WARM_DOCS = 200
    #: more manifest entries than MAX_SEGMENTS compacts: with three
    #: epochs it fires in the last one
    STREAM_DOCS = 300
    STREAM_EPOCHS = 3
    MAX_SEGMENTS = 2

    def generate(self) -> None:
        self.docs_pd = inputs.gen_documents(self.n_docs, self.seed)
        self.docs_pd.to_parquet(os.path.join(self.input_dir, "docs.parquet"), index=False)

    def load(self, spark) -> None:
        self.docs = tables.load_table(spark, self.input_dir, "docs")
        self.docs.count()

    def warm_up(self, spark) -> None:
        docs, self.docs = self.docs, self.docs.where(F.col("doc_id") < self.WARM_DOCS)
        try:
            super().warm_up(spark)
        finally:
            self.docs = docs

    def compute_oracle(self, spark) -> None:
        masks = inputs.word_masks(self.docs_pd["text"])
        self.pair_codes, self.pair_ji = inputs.exact_pairs(masks, THRESHOLD)
        self.comp_nodes, self.comp_labels = inputs.components(
            self.pair_codes, self.n_docs
        )

    def run_op(self, spark, tracer) -> dict:
        out = self.fresh_dir("dedup")
        pairs_dir = os.path.join(out, "pairs")
        comps_dir = os.path.join(out, "components")
        with tracer.span(self.op_span) as op:
            with tracer.span("operators.dedup.lsh") as s_lsh:
                dedup.minhash_lsh_dedup(
                    self.docs, "doc_id", threshold=THRESHOLD
                ).write.parquet(pairs_dir)
            with tracer.span("operators.dedup.components") as s_cc:
                dedup.connected_components(
                    spark.read.parquet(pairs_dir)
                ).write.parquet(comps_dir)
        return {
            "op": op, "lsh": s_lsh, "components": s_cc,
            "pairs_dir": pairs_dir, "comps_dir": comps_dir,
            "dirs": [out],
        }

    def check_pairs(self, pairs: pd.DataFrame, below: int) -> list[str]:
        """The pair set equals the exact set of pairs with JI >= 0.9 among
        documents ``doc_id < below`` (so every planted near-duplicate at
        or above the threshold is found, and nothing below it), with
        exact ji values."""
        n = self.n_docs
        keep = self.pair_codes % n < below
        want_codes, want_ji = self.pair_codes[keep], self.pair_ji[keep]
        codes = pairs["a_id"].to_numpy(np.int64) * n + pairs["b_id"].to_numpy(np.int64)
        order = np.argsort(codes)
        if not np.array_equal(codes[order], want_codes):
            missing = len(np.setdiff1d(want_codes, codes))
            extra = len(codes) - (len(want_codes) - missing)
            return [f"pair set differs from exact: {missing} missing, {extra} extra"]
        if not np.allclose(pairs["ji"].to_numpy()[order], want_ji, atol=1e-9):
            return ["pair ji differs from exact Jaccard"]
        return []

    def check(self, rec) -> list[str]:
        pairs = pq.read_table(rec["pairs_dir"]).to_pandas()
        rec["n_pairs"] = len(pairs)
        errs = self.check_pairs(pairs, self.n_docs)
        comps = pq.read_table(rec["comps_dir"]).to_pandas().sort_values("id")
        if not (
            np.array_equal(comps["id"].to_numpy(), self.comp_nodes)
            and np.array_equal(comps["comp"].to_numpy(), self.comp_labels)
        ):
            errs.append("connected components differ from the exact components")
        return errs

    def end_to_end(self, recs) -> dict:
        return {
            "docs_per_s": median(self.n_docs / r["op"].seconds for r in recs),
            "op_s_p50": median(r["op"].seconds for r in recs),
        }

    def stream(self, spark, tracer) -> tuple[dict, list[str]]:
        """One stream over the first STREAM_DOCS documents, each epoch
        applied with ``apply_dedup_batch``, then ``read_pairs``. Checked
        against the exact pair set of those documents, which the batch
        operations return too (stream == batch)."""
        state = self.fresh_dir("state")
        bounds = np.linspace(0, self.STREAM_DOCS, self.STREAM_EPOCHS + 1).astype(int)
        epochs = []
        for e in range(self.STREAM_EPOCHS):
            batch = self.docs.where(
                (F.col("doc_id") >= int(bounds[e])) & (F.col("doc_id") < int(bounds[e + 1]))
            )
            before = files_under(state)
            n_entries = len(dedup_stream.committed_epochs(state))
            with tracer.span("streaming.epoch", epoch=e) as sp:
                dedup_stream.apply_dedup_batch(
                    batch, e, id_col="doc_id", state_dir=state,
                    threshold=THRESHOLD, max_segments=self.MAX_SEGMENTS,
                )
            # the manifest shrank or kept its length: compaction ran
            sp.attrs["compacted"] = len(dedup_stream.committed_epochs(state)) <= n_entries
            sp.attrs["bytes_written"] = sum(
                size for path, size in files_under(state).items() if path not in before
            )
            epochs.append(sp)
        state_files = len(files_under(state))
        with tracer.span("streaming.read_pairs") as s_read:
            pairs = dedup_stream.read_pairs(spark, state).select("a_id", "b_id", "ji").toPandas()
        committed = dedup_stream.committed_epochs(state)
        shutil.rmtree(state, ignore_errors=True)
        errs = self.check_pairs(pairs, self.STREAM_DOCS)
        if not any(sp.attrs["compacted"] for sp in epochs):
            errs.append("no compaction fired during the stream")
        if not committed or committed[-1] != self.STREAM_EPOCHS - 1:
            errs.append(f"manifest ends at {committed}, not epoch {self.STREAM_EPOCHS - 1}")
        rec = {"epochs": epochs, "read": s_read, "state_files": state_files}
        return rec, errs

    def traced_extras(self, spark, tracer) -> tuple[dict, list[list[str]]]:
        """The signature kernel's rate through the public
        ``minhash_signatures``, the doc-level candidate count of the
        public ``lsh_candidate_pairs`` at the banding
        ``minhash_lsh_dedup`` picks for t=0.9, and one stream."""
        bands, n_hashes = dedup.pick_lsh_banding(dedup.DEFAULT_LSH_HASH_BUDGET, THRESHOLD)
        sigs = dedup.minhash_signatures(self.docs, "doc_id", n_hashes=n_hashes).cache()
        with tracer.span("functions.minhash_sig") as s_sig:
            sigs.count()
        with tracer.span("operators.dedup.candidates"):
            n = dedup.lsh_candidate_pairs(
                sigs, "doc_id", n_hashes=n_hashes, bands=bands
            ).count()
        sigs.unpersist(blocking=True)
        stream, errs = self.stream(spark, tracer)
        extras = {"minhash_sig": s_sig, "candidate_pairs": n, "stream": stream}
        return extras, [errs]

    def layer_metrics(self, tracer, recs, stages, jobs, extras) -> dict:
        per_op = [counters_for(tracer, [r["op"]], stages, jobs) for r in recs]
        verified = median(r["n_pairs"] for r in recs)
        cands = extras["candidate_pairs"]
        st = extras["stream"]
        eps = st["epochs"]
        per_ep = [counters_for(tracer, [sp], stages, jobs) for sp in eps]
        stream_c = counters_for(tracer, eps + [st["read"]], stages, jobs)
        stream_s = sum(sp.seconds for sp in eps) + st["read"].seconds
        longest = max(per_ep, key=lambda c: c.max_stage_s)
        return {
            "functions.minhash_sig.rows_per_s": self.n_docs / extras["minhash_sig"].seconds,
            "operators.dedup.lsh_s": median(r["lsh"].seconds for r in recs),
            "operators.dedup.components_s": median(r["components"].seconds for r in recs),
            "operators.dedup.candidate_pairs": cands,
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.verify_yield": verified / cands if cands else 0.0,
            "operators.dedup.jobs": median(c.jobs for c in per_op),
            "operators.dedup.shuffle_bytes": median(c.shuffle_write_bytes for c in per_op),
            "operators.dedup.max_stage_s": median(c.max_stage_s for c in per_op),
            "operators.dedup.max_stage_tasks": median(c.max_stage_tasks for c in per_op),
            "operators.dedup.core_util": median(
                c.cpu_s / (r["op"].seconds * CORES) for r, c in zip(recs, per_op)
            ),
            "streaming.epoch_jobs_p50": median(c.jobs for c in per_ep),
            "streaming.epoch_max_stage_tasks": longest.max_stage_tasks,
            "streaming.compaction_epoch_s": median(
                sp.seconds for sp in eps if sp.attrs["compacted"]
            ),
            "streaming.read_pairs_s": st["read"].seconds,
            "streaming.task_cpu_s": stream_c.cpu_s,
            "streaming.core_util": stream_c.cpu_s / (stream_s * CORES),
            "streaming.bytes_written": sum(sp.attrs["bytes_written"] for sp in eps),
            "streaming.state_files": st["state_files"],
        }

    def kernel_inputs(self, recs):
        d = self.docs_pd
        return d["text"], d["n_chars"], d["source"], None


WORKLOADS = {w.name: w for w in (SketchDist, DedupBatch)}
