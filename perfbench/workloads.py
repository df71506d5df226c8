"""The benchmark's workloads. Each is one process, one client, closed loop.

A workload function takes a ``Ctx`` and returns a ``Result``: set-up time,
the per-operation latencies, the outcome of its correctness checks and, when
traced, its per-layer numbers. A run times a fixed number of operations,
sized to ``--seconds``, so two builds are always measured on the same
inputs. Correctness is checked after the timed window; every operation's
inputs are fresh draws from the run's seed.
"""

from __future__ import annotations

import math
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from naru_spark.sources.registry import ESTIMATOR_COLUMNS
from perfbench import stats
from perfbench.sparkstat import SparkCounters

LINEITEM_COLS = ESTIMATOR_COLUMNS["lineitem"]
# The served model: the repo's headline ResMADE config
# (naru_spark.entry_model._fitted).
FIT_CONFIG = dict(
    hidden=64, blocks=2, max_model_domain=256, epochs=2, batch_size=2048,
    lr=7e-3, sample_rows=100_000,
)
PSAMPLE_SAMPLES = 256
PSAMPLE_SEED = 7
# Operations per second of --seconds, near the rates measured when the
# benchmark was written (4-core host): 15 s gives 1,000 estimates and 4
# oracle batches. The count depends on --seconds alone, never on how fast
# the operations turn out to be.
ESTIMATES_PER_S = 60
MIN_ESTIMATES = 1_000  # enough for a p99 with 10 samples beyond it
QERROR_QUERIES = 256  # first served queries labelled with exact counts
# Every BATCH_EVERY served queries, the last BATCH_CHUNK are re-run through
# query_batch(threads): batch throughput is sampled across the whole run.
BATCH_EVERY = 250
BATCH_CHUNK = 32
QERROR_P50_LIMIT = 2.0  # accuracy guard: a broken model lands far above
ORACLE_BATCH = 256
ORACLE_WARMUP_BATCHES = 2
# Batches keep speeding up for the first several, so every run times the
# same number of them: a median over 3 vs 4 batches sits at a different
# point of that curve.
ORACLE_BATCHES_PER_S = 0.25
ORACLE_MIN_BATCHES = 4
# A run stops early only past this multiple of --seconds: a safety limit
# that keeps a pathologically slow build within the run's time limit.
CAP_FACTOR = 4
ORACLE_CHECK_STRIDE = 4  # every 4th count of each batch is checked
DEDUP_THRESHOLD = 0.5
SHINGLE_N = 3
WARMUP_SEED_OFFSET = 1_000_003  # warm-up inputs never repeat timed ones


@dataclass
class Ctx:
    spark: object
    data_dir: str
    seed: int
    seconds: float
    cpus: int
    tracer: object | None = None

    def __post_init__(self):
        self.counters = SparkCounters(self.spark)


@dataclass
class Result:
    setup_s: float
    latencies_s: list  # one per attempted operation; inf when it failed
    failed: int
    checks: dict  # name -> bool
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    @property
    def correct(self) -> bool:
        return all(self.checks.values())


def op_count(seconds: float, per_s: float, minimum: int) -> int:
    """Operations one run times: ``seconds`` at the nominal rate ``per_s``."""
    return max(minimum, math.ceil(seconds * per_s))


def run_ops(op, n_ops: int, cap_s: float):
    """Closed loop: call ``op(i)`` for ``i`` in ``range(n_ops)``, stopping
    early only once ``cap_s`` seconds have passed. ``op`` returns its own
    timed span in seconds (so input generation stays outside it). A failing
    operation is logged, counted, and recorded with infinite latency; it
    never ends the run."""
    lat, failed = [], 0
    t_end = time.perf_counter() + cap_s
    for i in range(n_ops):
        if i and time.perf_counter() > t_end:
            print(f"# stopped after {i} of {n_ops} operations: past the {cap_s:.0f} s cap", file=sys.stderr)
            break
        try:
            lat.append(op(i))
        except Exception:  # noqa: BLE001 — one failing operation must not end the run
            failed += 1
            lat.append(math.inf)
            print(f"# operation {i} failed:\n{traceback.format_exc()}", file=sys.stderr)
    return lat, failed


# ------------------------------------------------------------------ inputs
def lineitem_pdf(ctx: Ctx):
    from naru_spark.workload import load_table_pandas

    return load_table_pandas(ctx.data_dir, "lineitem", LINEITEM_COLS)


def draw_queries(pdf, meta, rng, n: int) -> list:
    from naru_spark.workload import generate_query

    return [generate_query(pdf, meta, rng, "lineitem") for _ in range(n)]


class DuckTruth:
    """Exact COUNT(*) per query from DuckDB over an in-memory copy of the
    same parquet file, with the predicate text the repo renders for its
    DuckDB oracle (``predicates.sql_predicate``)."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.con.execute(f"CREATE TABLE lineitem AS SELECT * FROM read_parquet('{data_dir}/lineitem.parquet')")

    def counts(self, queries: list) -> list[int]:
        from naru_spark.predicates import sql_predicate

        return [
            int(self.con.execute(f"SELECT count(*) FROM lineitem WHERE {sql_predicate(q)}").fetchone()[0])
            for q in queries
        ]

    def __enter__(self) -> "DuckTruth":
        return self

    def __exit__(self, *exc) -> None:
        self.con.close()


def load_lineitem(ctx: Ctx):
    """sources: the cached lineitem projection and its row count."""
    from naru_spark.sources import load_table

    df = load_table(ctx.spark, "lineitem", ctx.data_dir, LINEITEM_COLS).cache()
    return df, df.count()


# ------------------------------------------------------------ estimate_serve
def estimate_serve(ctx: Ctx) -> Result:
    from naru_spark.encoding import DictionaryEncoder
    from naru_spark.estimators.progressive import ProgressiveSampling
    from naru_spark.model.train import NaruEstimator

    pdf = lineitem_pdf(ctx)
    t0 = time.perf_counter()
    df, n_rows = load_lineitem(ctx)
    t_load = time.perf_counter()
    enc = DictionaryEncoder(LINEITEM_COLS).fit(df)
    meta = enc.table_meta(df, "lineitem", cardinality=n_rows)
    t_enc = time.perf_counter()
    model = NaruEstimator(LINEITEM_COLS, seed=ctx.seed, **FIT_CONFIG).fit(df, meta, enc)
    t_fit = time.perf_counter()
    ps = ProgressiveSampling(model, num_samples=PSAMPLE_SAMPLES, seed=PSAMPLE_SEED)
    for q in draw_queries(pdf, meta, np.random.RandomState(ctx.seed + WARMUP_SEED_OFFSET), 16):
        ps.query(q)
    setup_s = time.perf_counter() - t0

    if ctx.tracer is not None:
        ctx.tracer.phase = "serve"
    rng = np.random.RandomState(ctx.seed)
    queries, ests, seq_lat = [], [], []
    chunks = []  # (sequential s, batch s, batch identical)

    def batch_chunk():
        if ctx.tracer is not None:
            ctx.tracer.phase = "batch"
        t = time.perf_counter()
        got = ps.query_batch(queries[-BATCH_CHUNK:], threads=ctx.cpus)
        chunks.append((sum(seq_lat[-BATCH_CHUNK:]), time.perf_counter() - t, got == ests[-BATCH_CHUNK:]))
        if ctx.tracer is not None:
            ctx.tracer.phase = "serve"

    def op(_i):
        q = draw_queries(pdf, meta, rng, 1)[0]
        t = time.perf_counter()
        e = ps.query(q)
        dt = time.perf_counter() - t
        queries.append(q)
        ests.append(e)
        seq_lat.append(dt)
        if len(queries) % BATCH_EVERY == 0:
            batch_chunk()
        return dt

    j0 = ctx.counters.next_job_id()
    lat, failed = run_ops(op, op_count(ctx.seconds, ESTIMATES_PER_S, MIN_ESTIMATES), CAP_FACTOR * ctx.seconds)
    serve_jobs = ctx.counters.next_job_id() - j0
    seq_s = sum(c[0] for c in chunks)
    batch_s = sum(c[1] for c in chunks)
    chunk_qps = [BATCH_CHUNK / c[1] for c in chunks]
    batch_qps = stats.median(chunk_qps) if chunks else 0.0

    with DuckTruth(ctx.data_dir) as duck:
        truths = duck.counts(queries[:QERROR_QUERIES])
    qe = stats.qerrors(ests[:QERROR_QUERIES], truths)
    qe_tail = stats.tail(qe)
    card = meta.cardinality
    checks = {
        "estimates_finite_in_range": all(math.isfinite(e) and 0 <= e <= card for e in ests),
        "batch_bit_identical": bool(chunks) and all(c[2] for c in chunks),
        "no_spark_jobs_while_serving": serve_jobs == 0,
        "qerror_p50_within_limit": bool(qe) and stats.median(qe) <= QERROR_P50_LIMIT,
    }
    layers = {}
    if ctx.tracer is not None:
        tr = ctx.tracer
        n = max(1, len(queries))
        fwd = {"model.hidden_nograd", "model.logits_for_col"}
        q_total = tr.total("progressive.query", "serve")
        f_total = sum(tr.total(name, "serve") for name in fwd)
        fwd_s = sum(tr.total(name, "setup") for name in ("model.forward_encoded", "model.nll", "model.backward", "model.adam_step"))
        steps = tr.count("model.adam_step", "setup")
        fit_spans = tr.of("train.fit", "setup")
        bits_spans = tr.of("model.encode_bits", "setup")
        layers.update({
            "model.forward_calls_per_query": tr.count("model.hidden_nograd", "serve") / n,
            "model.forward_ms": f_total * 1e3 / n,
            "model.forward_share": f_total / q_total if q_total else 0.0,
            "progressive.self_ms_per_query": tr.self_total("progressive.query", fwd, "serve") * 1e3 / n,
            "progressive.mask_ms_per_query": tr.total("progressive.predicate_mask", "serve") * 1e3 / n,
            "progressive.batch_speedup": seq_s / batch_s if batch_s else 0.0,
            "progressive.batch_qps": batch_qps,
            "spark.jobs_per_op": serve_jobs / n,
            "train.spark_side_s": bits_spans[0][2] - fit_spans[0][2] if fit_spans and bits_spans else 0.0,
            "train.fit_s": t_fit - t_enc,
            "train.model_bits": float(model.fit_info.get("model_bits", 0.0)),
            "model.train_step_ms": fwd_s * 1e3 / steps if steps else 0.0,
            "model.backward_share": tr.total("model.backward", "setup") / fwd_s if fwd_s else 0.0,
            "model.steps": steps,
            "sources.load_s": t_load - t0,
            "encoding.fit_s": t_enc - t_load,
            "estimate.qerror_p50": stats.median(qe) if qe else 0.0,
            "estimate.qerror_tail": qe_tail[1] if qe_tail else 0.0,
        })
    detail = {
        "estimates": len(ests),
        "batch_chunks_qps": chunk_qps,
        "batch_s": batch_s,
        "sequential_s_same_queries": seq_s,
        "qerror_n": len(qe),
        "qerror_p50": stats.median(qe) if qe else None,
        "qerror_tail": qe_tail,
        "model_bits": model.fit_info.get("model_bits"),
        "fit_s": t_fit - t_enc,
        "load_s": t_load - t0,
        "encoder_fit_s": t_enc - t_load,
    }
    df.unpersist()
    return Result(setup_s, lat, failed, checks, layers, detail)


# --------------------------------------------------------------- oracle_scan
def oracle_scan(ctx: Ctx) -> Result:
    from naru_spark.estimators.exact import Oracle
    from naru_spark.workload import pdf_table_meta

    pdf = lineitem_pdf(ctx)
    meta = pdf_table_meta(pdf, "lineitem")
    warm_rng = np.random.RandomState(ctx.seed + WARMUP_SEED_OFFSET)
    warm = [draw_queries(pdf, meta, warm_rng, ORACLE_BATCH) for _ in range(ORACLE_WARMUP_BATCHES)]
    t0 = time.perf_counter()
    df, _ = load_lineitem(ctx)
    t_load = time.perf_counter()
    oracle = Oracle(df)
    for qs in warm:
        oracle.query_batch(qs)
    setup_s = time.perf_counter() - t0

    if ctx.tracer is not None:
        ctx.tracer.phase = "ops"
    rng = np.random.RandomState(ctx.seed)
    batches, counts, windows = [], [], []

    def op(_i):
        qs = draw_queries(pdf, meta, rng, ORACLE_BATCH)
        j0 = ctx.counters.next_job_id()
        wall0 = time.time()
        t = time.perf_counter()
        res = oracle.query_batch(qs)
        dt = time.perf_counter() - t
        batches.append(qs)
        counts.append(res)
        windows.append((wall0, j0, ctx.counters.next_job_id()))
        return dt

    lat, failed = run_ops(
        op, op_count(ctx.seconds, ORACLE_BATCHES_PER_S, ORACLE_MIN_BATCHES), CAP_FACTOR * ctx.seconds
    )
    step = ORACLE_CHECK_STRIDE
    with DuckTruth(ctx.data_dir) as duck:
        checks = {
            "counts_match_duckdb": bool(counts) and all(
                c[::step] == duck.counts(qs[::step]) for c, qs in zip(counts, batches)
            ),
        }
    df.unpersist()
    layers = {"sources.load_s": t_load - t0}
    if ctx.tracer is not None:
        tr = ctx.tracer
        per = [ctx.counters.window(j0, j1) for _, j0, j1 in windows]
        nb = max(1, len(per))
        jobs = sum(p.jobs for p in per) / nb
        layers.update({
            "exact.jobs_per_batch": jobs,
            "exact.driver_s_per_batch": sum(
                (p.first_submit_s - w0) for p, (w0, _, _) in zip(per, windows) if p.first_submit_s
            ) / nb,
            "exact.job_s_per_batch": sum(
                (p.last_complete_s - p.first_submit_s) for p in per
                if p.first_submit_s and p.last_complete_s
            ) / nb,
            "predicates.render_ms_per_query": tr.total("predicates.spark_where", "ops") * 1e3
            / (nb * ORACLE_BATCH),
            "spark.jobs_per_op": jobs,
            "spark.tasks_per_op": sum(p.tasks for p in per) / nb,
            "spark.shuffle_write_bytes_per_op": sum(p.shuffle_write_bytes for p in per) / nb,
        })
        dedup_checks, dedup_layers = dedup_profile(ctx)
        checks.update(dedup_checks)
        layers.update(dedup_layers)
    detail = {"batches": len(batches), "queries_per_batch": ORACLE_BATCH}
    return Result(setup_s, lat, failed, checks, layers, detail)


# -------------------------------------------------------------- pipeline.dedup
def shingles(text: str, n: int = SHINGLE_N) -> set:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def components_of(pairs) -> dict:
    """Reference connected components (union-find): node -> min node id."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def dedup_profile(ctx: Ctx) -> tuple[dict, dict]:
    """pipeline.dedup, profiled in oracle_scan's traced run: one warm-up
    pass, then one measured pass of ``minhash_lsh_pairs`` and
    ``connected_components`` over the documents. Returns (checks, layers).
    Every pair's Jaccard is recomputed from its shingle sets, and the
    components must equal a union-find over the pairs."""
    import pyarrow.parquet as pq

    from naru_spark.pipeline.dedup import connected_components, minhash_lsh_pairs
    from naru_spark.sources import load_table

    cols = pq.read_table(f"{ctx.data_dir}/documents.parquet", columns=["doc_id", "text"]).to_pydict()
    sets = {k: shingles(v) for k, v in zip(cols["doc_id"], cols["text"])}
    docs = load_table(ctx.spark, "documents", ctx.data_dir).cache()
    docs.count()
    # min-label propagation checkpoints its labels once per round
    df_cls = type(docs)
    orig_ckpt = df_cls.localCheckpoint
    rounds = [0]

    def counted_ckpt(self, *a, **k):
        rounds[0] += 1
        return orig_ckpt(self, *a, **k)

    def one_pass():
        rounds[0] = 0
        j0 = ctx.counters.next_job_id()
        df_cls.localCheckpoint = counted_ckpt
        try:
            t = time.perf_counter()
            pairs_df = minhash_lsh_pairs(docs, "doc_id", threshold=DEDUP_THRESHOLD, seed=ctx.seed).cache()
            pairs = pairs_df.collect()
            t_pairs = time.perf_counter()
            comps = connected_components(pairs_df).collect()
            t_cc = time.perf_counter()
        finally:
            df_cls.localCheckpoint = orig_ckpt
        pairs_df.unpersist()
        return pairs, comps, t_pairs - t, t_cc - t_pairs, ctx.counters.window(j0, ctx.counters.next_job_id())

    one_pass()  # same plan as the measured pass: leaves codegen and the JIT warm
    pairs, comps, pairs_s, cc_s, jobs = one_pass()
    ctx.spark.catalog.clearCache()

    def jaccard_ok(r) -> bool:
        a, b = sets[r.id_a], sets[r.id_b]
        j = len(a & b) / len(a | b)
        return j >= DEDUP_THRESHOLD and abs(j - r.jaccard) <= 1e-6

    checks = {
        "dedup_pairs_jaccard_verified": bool(pairs) and all(jaccard_ok(r) for r in pairs),
        "dedup_components_match_union_find": {r.id: r.component for r in comps}
        == components_of((r.id_a, r.id_b) for r in pairs),
    }
    layers = {
        "dedup.pairs_s": pairs_s,
        "dedup.components_s": cc_s,
        "dedup.cc_rounds": rounds[0],
        "dedup.pairs": len(pairs),
        "dedup.spark_jobs_per_pass": jobs.jobs,
        "dedup.shuffle_write_bytes_per_pass": jobs.shuffle_write_bytes,
    }
    return checks, layers


WORKLOADS = {
    "estimate_serve": estimate_serve,
    "oracle_scan": oracle_scan,
}


def install_spans(tracer) -> None:
    """Spans around the naru_spark calls whose time the per-layer metrics
    split (traced run only); whole-layer calls are timed where they are
    made."""
    from naru_spark import predicates
    from naru_spark.estimators.progressive import ProgressiveSampling
    from naru_spark.model.binning import ModelBinning
    from naru_spark.model.made import Adam, ResMADE
    from naru_spark.model.train import NaruEstimator

    for owner, attr, name in (
        (ResMADE, "hidden_nograd", "model.hidden_nograd"),
        (ResMADE, "logits_for_col", "model.logits_for_col"),
        (ResMADE, "encode_bits", "model.encode_bits"),
        (ResMADE, "forward_encoded", "model.forward_encoded"),
        (ResMADE, "nll", "model.nll"),
        (ResMADE, "backward", "model.backward"),
        (Adam, "step", "model.adam_step"),
        (NaruEstimator, "fit", "train.fit"),
        (ProgressiveSampling, "query", "progressive.query"),
        (ModelBinning, "predicate_mask", "progressive.predicate_mask"),
        # exact.py imports spark_where at call time, so the patch is seen
        (predicates, "spark_where", "predicates.spark_where"),
    ):
        tracer.wrap(owner, attr, name)
