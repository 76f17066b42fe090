"""The three workloads: what each pass runs, and how each output is checked.

Every workload is a closed loop with one client: the worker runs one
pass (every operation in order), checks the outputs outside the timed
window, and starts the next pass. A pass's time is the sum of its
operations' timed windows.

- ``curate``: batch LLM-corpus curation through registry ``fn``s plus a
  persisted LSH index (build, then query). Outputs are hash-matched
  against each entry's DuckDB ``oracle``.
- ``train_serve``: ``DistributedDL.fit`` (average mode), ``fit``
  (allreduce mode), ``DistributedDLModel.transform`` to the noop sink,
  and a model save/load round trip. Weights and loss are checked
  against a plain single-process numpy run.
- ``stream``: three registry streaming entries (a tumbling-window count,
  a TWS stateful processor and the CDC upsert sink) over a landing
  directory of time-sliced event files; results are hash-matched
  against each entry's batch oracle over the same rows.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import time

import numpy as np

# Inputs per workload (datagen.generate keys). "bench" is sized so the
# benchmark's runs fit their time budget on a 4-core host; "tiny" is the
# smoke check's.
SCALES = {
    "bench": {
        "curate": {"docs": 1000, "vecs": 1000},
        "train_serve": {"train_rows": 20000, "train_dim": 16, "train_files": 4},
        "stream": {"events": 6000, "users": 60, "event_files": 2},
    },
    "tiny": {
        "curate": {"docs": 300, "vecs": 200},
        "train_serve": {"train_rows": 2000, "train_dim": 16, "train_files": 4},
        "stream": {"events": 1500, "users": 20, "event_files": 2},
    },
}

LSH_ORACLE_ENTRY = "d_lsh_index_md5_query"

# (operation, module label). Operation names are registry entries except
# "lsh_index", which drives sparkflow_spark.lsh_index directly and is
# checked against LSH_ORACLE_ENTRY's oracle.
CURATE_OPS = (
    ("p_clean_corpus", "text"),
    ("d_exact_dedup_rows", "dedup"),
    ("d_near_dedup_keep", "dedup"),
    ("lsh_index", "lsh_index"),
    ("s_brute_force_top1", "similarity"),
    ("t_bm25_scores", "text"),
    ("p_classifier_filter_e2e", "pipeline"),
)

# stream op -> the registry entry it runs, whose batch oracle checks it
STREAM_OPS = (
    ("windowed_counts", "st_tumbling_hour_counts"),
    ("tws_user_stats", "st_tws_user_stats"),
    ("cdc_upsert", "st_cdc_upsert_snapshot"),
)

TRAIN = {
    "hidden": 16,
    "net_seed": 42,
    "lr": 0.05,
    "partitions": 4,
    "avg_iters": 2,
    "avg_local_iters": 20,
    "ar_iters": 1,
    "ar_local_iters": 3,
}


# ---------------------------------------------------------------------------
# output hashing (shared by the orchestrator's oracle pass and the worker)


def canon_hash(pdf) -> tuple[str, int]:
    """Order-insensitive hash of a result, using the engine's own
    canonical form (columns by name, values stringified, rows sorted)."""
    from sparkflow_spark.oracle import _canon

    c = _canon(pdf)
    h = hashlib.sha256(",".join(c.columns).encode())
    h.update(c.to_csv(index=False, header=False).encode())
    return h.hexdigest(), len(c)


def oracle_expectations(workload: str, data_dir: str) -> dict:
    """DuckDB oracle results for every checked operation, as hashes."""
    import duckdb

    from sparkflow_spark.queries import load_all

    if workload == "train_serve":
        return {}
    reg = load_all()
    con = duckdb.connect()
    for table in ("documents", "embeddings"):
        path = os.path.join(data_dir, f"{table}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM parquet_scan('{path}')")
    events = os.path.join(data_dir, "events.parquet")
    if os.path.isdir(events):
        con.execute(f"CREATE VIEW events AS SELECT * FROM parquet_scan('{events}/*.parquet')")
    if workload == "curate":
        entries = {op: (LSH_ORACLE_ENTRY if op == "lsh_index" else op) for op, _ in CURATE_OPS}
    else:
        entries = dict(STREAM_OPS)
    out = {}
    for op, entry in entries.items():
        out[op] = canon_hash(con.execute(reg[entry].oracle).fetchdf())
    con.close()
    return out


# ---------------------------------------------------------------------------
# worker-side context


class Ctx:
    """Per-worker state: the session, registry, inputs, checks and spans."""

    def __init__(self, spark, registry, spec, tracer=None):
        self.spark = spark
        self.reg = registry
        self.data = spec["data_dir"]
        self.work = spec["work_dir"]
        self.scale = spec["scale"]
        self.expected = {k: tuple(v) for k, v in spec.get("expected", {}).items()}
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, **attrs)

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{what}: {detail}" if detail else what)

    def check_hash(self, op: str, pdf) -> None:
        got = canon_hash(pdf)
        want = self.expected.get(op)
        self.check(op, want is not None and got == want, f"rows {got[1]} vs oracle {want and want[1]}")


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


# ---------------------------------------------------------------------------
# curate


class Curate:
    name = "curate"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.last_df: dict[str, object] = {}

    def prepare(self) -> None:
        pass

    def _lsh(self, pass_no: int) -> tuple[object, dict]:
        import pyspark.sql.functions as F

        from sparkflow_spark.catalog import Tables
        from sparkflow_spark.lsh_index import build_lsh_index, query_lsh_index

        ctx = self.ctx
        path = os.path.join(ctx.work, f"lsh_index_{pass_no}")
        docs = Tables(ctx.spark, ctx.data).documents.select("doc_id", "text")
        t0 = time.perf_counter()
        with ctx.span("lsh_index.build"):
            build_lsh_index(docs, path, num_hashes=8, bands=4, shingle_k=3, hash_family="md5")
        t1 = time.perf_counter()
        with ctx.span("lsh_index.query"):
            probes = docs.orderBy("doc_id").limit(20)
            pdf = (
                query_lsh_index(ctx.spark, path, probes, min_est_jaccard=0.5)
                .select(
                    "probe_id",
                    "match_id",
                    (F.round(F.col("est_jaccard"), 3).cast("double") + F.lit(0.0)).alias("est"),
                )
                .toPandas()
            )
        t2 = time.perf_counter()
        return pdf, {"lsh_index.build_s": t1 - t0, "lsh_index.query_s": t2 - t1}

    def run_pass(self, pass_no: int) -> dict:
        ctx = self.ctx
        ops: dict[str, float] = {}
        extra: dict[str, float] = {"queries.plan_build_s": 0.0, "queries.exec_s": 0.0}
        reuse = calls = 0
        for op, module in CURATE_OPS:
            with ctx.span(op, kind="op", module=module):
                if op == "lsh_index":
                    t0 = time.perf_counter()
                    pdf, parts = self._lsh(pass_no)
                    ops[op] = time.perf_counter() - t0
                    extra.update(parts)
                else:
                    q = ctx.reg[op]
                    with ctx.span("queries.plan_build"):
                        df, t_plan = timed(lambda: q.fn(ctx.spark, ctx.data))
                    with ctx.span("queries.exec"):
                        pdf, t_exec = timed(df.toPandas)
                    ops[op] = t_plan + t_exec
                    # a memo=False entry runs its jobs inside fn: all exec
                    extra["queries.plan_build_s"] += t_plan if q.memo else 0.0
                    extra["queries.exec_s"] += t_exec + (0.0 if q.memo else t_plan)
                    calls += 1
                    reuse += int(self.last_df.get(op) is df)
                    self.last_df[op] = df
            ctx.check_hash(op, pdf)
        extra["queries.memo_reuse_ratio"] = reuse / calls
        return {"time": sum(ops.values()), "ops": ops, "samples": extra}

    def pair_counts(self) -> dict:
        """Near-dedup pair counts over this run's corpus, with the
        kernel and settings d_near_dedup_keep uses (3-shingles, shingle
        frequency cap 20): candidates are the document pairs sharing a
        capped shingle, which the kernel scores; outputs are the pairs
        at Jaccard >= 0.5, which near dedup merges. Untimed."""
        from sparkflow_spark import dedup
        from sparkflow_spark.catalog import Tables
        from sparkflow_spark.queries.dedup_suite import _SHINGLE_FREQ_CAP

        docs = Tables(self.ctx.spark, self.ctx.data).documents

        def count(threshold):
            return dedup.ngram_jaccard_pairs(
                docs, shingle_k=3, threshold=threshold, max_shingle_freq=_SHINGLE_FREQ_CAP
            ).count()

        cand, found = count(0.0), count(0.5)
        return {
            "dedup.candidate_pairs": cand,
            "dedup.output_pairs": found,
            "dedup.pair_yield": found / cand if cand else 0.0,
        }


# ---------------------------------------------------------------------------
# train_serve — plain numpy reference (independent of sparkflow_spark.ml.nn)


def _ref_init(layers, seed):
    rng = np.random.default_rng(seed)
    ws = []
    for fan_in, fan_out in zip(layers[:-1], layers[1:]):
        limit = np.sqrt(6.0 / (fan_in + fan_out))
        ws.append(rng.uniform(-limit, limit, size=(fan_in, fan_out)))
        ws.append(np.zeros(fan_out))
    return ws


def _ref_forward(ws, X):
    h = np.tanh(X @ ws[0] + ws[1])
    z = h @ ws[2] + ws[3]
    return h, 1.0 / (1.0 + np.exp(-np.clip(z, -60, 60)))


def ref_loss(ws, X, y):
    p = np.clip(_ref_forward(ws, X)[1], 1e-9, 1 - 1e-9)
    return float(-np.mean(y * np.log(p) + (1 - y) * np.log(1 - p)))


def _ref_grads(ws, X, y):
    n = X.shape[0]
    h, p = _ref_forward(ws, X)
    pc = np.clip(p, 1e-9, 1 - 1e-9)
    dz2 = (pc - y) / (pc * (1 - pc)) / n * (p * (1 - p))
    dh = dz2 @ ws[2].T
    dz1 = dh * (1.0 - h * h)
    return [X.T @ dz1, dz1.sum(axis=0), h.T @ dz2, dz2.sum(axis=0)]


class _RefAdam:
    def __init__(self, lr, b1=0.9, b2=0.999, eps=1e-8):
        self.lr, self.b1, self.b2, self.eps = lr, b1, b2, eps
        self.m = self.v = None
        self.t = 0

    def apply(self, ws, gs):
        if self.m is None:
            self.m = [np.zeros_like(g) for g in gs]
            self.v = [np.zeros_like(g) for g in gs]
        self.t += 1
        self.m = [self.b1 * m + (1 - self.b1) * g for m, g in zip(self.m, gs)]
        self.v = [self.b2 * v + (1 - self.b2) * g * g for v, g in zip(self.v, gs)]
        out = []
        for w, m, v in zip(ws, self.m, self.v):
            mh = m / (1 - self.b1**self.t)
            vh = v / (1 - self.b2**self.t)
            out.append(w - self.lr * mh / (np.sqrt(vh) + self.eps))
        return out


def ref_average_fit(parts, layers, cfg):
    """Average mode: per partition, ``local_iters`` full-batch Adam steps
    from the shared weights, then the sample-weighted mean."""
    ws = _ref_init(layers, cfg["net_seed"])
    total = float(sum(len(y) for _, y in parts))
    for _ in range(cfg["avg_iters"]):
        acc = None
        for X, y in parts:
            local, opt = [w.copy() for w in ws], _RefAdam(cfg["lr"])
            for _ in range(cfg["avg_local_iters"]):
                local = opt.apply(local, _ref_grads(local, X, y))
            scaled = [w * (len(y) / total) for w in local]
            acc = scaled if acc is None else [a + w for a, w in zip(acc, scaled)]
        ws = acc
    return ws


def ref_allreduce_fit(X, y, layers, cfg):
    """Allreduce mode = single-worker full-batch Adam on the union.
    Returns the weights and the median seconds per step."""
    ws, opt, steps = _ref_init(layers, cfg["net_seed"]), _RefAdam(cfg["lr"]), []
    for _ in range(cfg["ar_iters"] * cfg["ar_local_iters"]):
        t0 = time.perf_counter()
        ws = opt.apply(ws, _ref_grads(ws, X, y))
        steps.append(time.perf_counter() - t0)
    return ws, statistics.median(steps)


def _close(a, b, tol=1e-6) -> bool:
    return len(a) == len(b) and all(
        np.asarray(x).shape == np.asarray(w).shape
        and np.allclose(np.asarray(x), np.asarray(w), rtol=tol, atol=tol)
        for x, w in zip(a, b)
    )


class TrainServe:
    name = "train_serve"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.avg_weights_json: str | None = None

    def prepare(self) -> None:
        from sparkflow_spark.ml.graph_utils import build_network

        self.df = None
        self.ref = None
        self.layers = [self.ctx.scale["train_dim"], TRAIN["hidden"], 1]
        self.spec = build_network(
            self.layers, activations=["tanh", "sigmoid"], loss="bce", seed=TRAIN["net_seed"]
        )

    def _read(self):
        if self.df is None:
            self.df = self.ctx.spark.read.parquet(os.path.join(self.ctx.data, "features.parquet"))
        return self.df

    def _reference(self) -> None:
        """Single-process numpy runs over the trainer's own partition
        layout, computed once, after the cold pass (untimed)."""
        import pyspark.sql.functions as F

        from sparkflow_spark.ml import make_network

        cfg = TRAIN
        glom = (
            self.df.select(
                F.col("features").cast("array<double>").alias("x"),
                F.col("label").cast("double").alias("y"),
            )
            .coalesce(cfg["partitions"])
            .rdd.glom()
            .collect()
        )
        parts = [
            (np.asarray([r["x"] for r in p], dtype=np.float64), np.asarray([r["y"] for r in p]).reshape(-1, 1))
            for p in glom
            if p
        ]
        self.X = np.vstack([X for X, _ in parts])
        self.y = np.vstack([y for _, y in parts])
        self.rows = self.X.shape[0]
        self.ref_avg = ref_average_fit(parts, self.layers, cfg)
        self.ref_ar, single_step_s = ref_allreduce_fit(self.X, self.y, self.layers, cfg)
        # per-row cost of the engine's own numpy network, single process
        net = make_network(json.loads(self.spec))
        g_t, f_t = [], []
        for _ in range(5):
            g_t.append(timed(lambda: net.gradients(self.X, self.y))[1])
            f_t.append(timed(lambda: net.forward(self.X))[1])
        self.layer_consts = {
            "ml.nn.grad_us_per_row": statistics.median(g_t) / self.rows * 1e6,
            "ml.nn.forward_us_per_row": statistics.median(f_t) / self.rows * 1e6,
            "ml.single_worker_step_s": single_step_s,
        }
        self.ref = True

    def _estimator(self, mode: str):
        from sparkflow_spark.ml import DistributedDL

        cfg = TRAIN
        avg = mode == "average"
        return DistributedDL(
            inputCol="features",
            labelCol="label",
            predictionCol="p",
            networkSpec=self.spec,
            tfOptimizer="adam",
            tfLearningRate=cfg["lr"],
            iters=cfg["avg_iters"] if avg else cfg["ar_iters"],
            localIters=cfg["avg_local_iters"] if avg else cfg["ar_local_iters"],
            partitions=cfg["partitions"],
            seed=cfg["net_seed"],
            trainingMode=mode,
        )

    def run_pass(self, pass_no: int) -> dict:
        import pyspark.sql.functions as F

        from sparkflow_spark.ml import DistributedDLModel

        ctx, cfg = self.ctx, TRAIN
        ops: dict[str, float] = {}
        with ctx.span("fit_average", kind="op", module="ml.estimator"):
            model, ops["fit_average"] = timed(lambda: self._estimator("average").fit(self._read()))
        with ctx.span("fit_allreduce", kind="op", module="ml.estimator"):
            ar_model, ops["fit_allreduce"] = timed(lambda: self._estimator("allreduce").fit(self.df))
        with ctx.span("transform", kind="op", module="ml.predict"):
            _, ops["transform"] = timed(
                lambda: model.transform(self.df).write.format("noop").mode("overwrite").save()
            )
        path = os.path.join(ctx.work, f"model_{pass_no}")
        with ctx.span("save_load", kind="op", module="ml.estimator"):
            t0 = time.perf_counter()
            model.write().overwrite().save(path)
            loaded = DistributedDLModel.load(path)
            ops["save_load"] = time.perf_counter() - t0

        # --- checks (untimed) ---
        if self.ref is None:
            self._reference()
        w_avg = model.get_weights()
        ctx.check("fit_average.weights_vs_numpy", _close(w_avg, self.ref_avg, 1e-9))
        wj = model.getOrDefault(model.modelWeights)
        if self.avg_weights_json is None:
            self.avg_weights_json = wj
        ctx.check("fit_average.repeat_bit_identical", wj == self.avg_weights_json)
        loss = ref_loss(w_avg, self.X, self.y)
        ref = ref_loss(self.ref_avg, self.X, self.y)
        ctx.check("fit_average.loss_vs_numpy", abs(loss - ref) <= 1e-9 * max(1.0, ref), f"{loss} vs {ref}")
        w_ar = ar_model.get_weights()
        ctx.check("fit_allreduce.weights_vs_numpy", _close(w_ar, self.ref_ar, 1e-6))
        agg = (
            model.transform(self.df)
            .agg(F.count(F.lit(1)).alias("n"), F.sum("p").alias("s"))
            .collect()[0]
        )
        want = float(_ref_forward(w_avg, self.X)[1].sum())
        ctx.check(
            "transform.predictions_vs_numpy",
            agg["n"] == self.rows and abs(agg["s"] - want) <= 1e-6 * max(1.0, abs(want)),
            f"n={agg['n']} sum={agg['s']} vs {want}",
        )
        ctx.check(
            "save_load.roundtrip",
            loaded.getOrDefault(loaded.modelWeights) == wj
            and loaded.getOrDefault(loaded.networkSpec) == model.getOrDefault(model.networkSpec),
        )
        samples = {
            "ml.train_samples_per_s": self.rows * cfg["avg_iters"] * cfg["avg_local_iters"] / ops["fit_average"],
            "ml.allreduce_steps_per_s": cfg["ar_iters"] * cfg["ar_local_iters"] / ops["fit_allreduce"],
            "ml.infer_rows_per_s": self.rows / ops["transform"],
            "ml.final_loss": loss,
            "ml.predict.s": ops["transform"],
        }
        shutil.rmtree(path, ignore_errors=True)
        return {"time": sum(ops.values()), "ops": ops, "samples": samples}


# ---------------------------------------------------------------------------
# stream


class Stream:
    name = "stream"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.queries: list = []
        self.on_session = None  # traced runs attach listeners here

    def prepare(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        # keep a handle on every query the engine starts, so each
        # micro-batch's progress can be read after the query ends
        orig = DataStreamWriter.start
        bench = self

        def start(writer, *a, **kw):
            if bench.on_session is not None:
                bench.on_session(writer._spark)
            q = orig(writer, *a, **kw)
            bench.queries.append(q)
            return q

        DataStreamWriter.start = start

    def run_pass(self, pass_no: int) -> dict:
        ctx = self.ctx
        ops: dict[str, float] = {}
        batches: list[float] = []
        for op, entry in STREAM_OPS:
            self.queries.clear()
            fn = ctx.reg[entry].fn
            with ctx.span(op, kind="op", module="streaming"):
                pdf, ops[op] = timed(lambda: fn(ctx.spark, ctx.data).toPandas())
            ctx.check_hash(op, pdf)
            data = [
                rec
                for q in self.queries
                for rec in (json.loads(p.json) for p in q.recentProgress)
                if rec.get("numInputRows", 0) > 0
            ]
            batches.extend(r["durationMs"]["triggerExecution"] / 1000.0 for r in data)
            ctx.check(f"{op}.data_batches", bool(data))
        return {"time": sum(ops.values()), "ops": ops, "samples": {}, "batch_s": batches}


WORKLOADS = {"curate": Curate, "train_serve": TrainServe, "stream": Stream}
