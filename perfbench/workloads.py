"""The two workloads: index (serve, then ingest) and ops.

Each workload sets up (inputs, base index, engine), runs its timed region
as one closed-loop client, then checks every output outside the timed
region. Every public call goes through a tracer span; the workload turns
spans into the end-to-end and per-layer figures ``run.py`` prints.

Sizes and measured costs: README.md.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import numpy as np
from admarus_spark.corpus import make_bench_corpus
from admarus_spark.index.build import IndexBuilder
from admarus_spark.query.parser import parse_query
from admarus_spark.search.engine import SearchEngine
from admarus_spark.streaming.incremental import IncrementalIndexer

from . import checks, inputs
from .tracing import SPARK_COUNTERS, Tracer, stop_spark

K = 10

# index workload: ~5k docs, ~60k terms (under the engine's 200k-term df
# cache gate); head terms sit in ~N docs, so head queries of ~13 terms carry
# more postings than the 50k pruning gate
N_DOCS, VOCAB = 5000, 100_000
SERVE_BATCH = 12  # half a grid: every shape, every class
WARM_PASSES = 2
DELTA_FRAC = 0.01
INGEST_SINGLES, INGEST_BATCH = 4, 3

OPS_LEAVES = (
    "tokenize_tf", "term_df", "dedup_minhash_pairs", "dedup_simhash",
    "dedup_ngram_jaccard", "sim_cosine_topk", "sim_lsh_topk", "text_quality",
    "events_hourly", "tpch_q1",
)
OPS_TABLES = ("documents", "embeddings", "events", "lineitem")
OPS_SIZES = dict(n_docs=5000, n_vecs=2000, dim=64, n_events=100_000, n_lineitem=600_000)
# sweeps keep speeding up for the first few (JIT): two untimed ones, then
# at least four timed ones so the median sits past the steepest part
OPS_WARM_SWEEPS, OPS_MIN_SWEEPS = 2, 4

# input parameters recorded with every result (the seed is recorded apart)
INPUTS = {
    "index": dict(corpus="make_bench_corpus", n_docs=N_DOCS, vocab_size=VOCAB, k=K,
                  delta_frac=DELTA_FRAC, warm_passes=WARM_PASSES,
                  serve_batch=SERVE_BATCH, ingest_singles=INGEST_SINGLES,
                  ingest_batch=INGEST_BATCH),
    "ops": dict(tables="inputs.ops_tables", leaves=len(OPS_LEAVES),
                warm_sweeps=OPS_WARM_SWEEPS, min_sweeps=OPS_MIN_SWEEPS, **OPS_SIZES),
}


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    run_dir: str
    cache_dir: str
    source_digest: str
    attempted: int = 0
    errors: list = field(default_factory=list)
    timed: tuple = (0.0, 0.0)   # perf_counter bounds of the timed region
    setup_s: float = 0.0
    report: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    primary: list = field(default_factory=list)  # spans of the unit operation
    work_units: int = 0         # units of work completed in the timed region
    rss: object = None          # RssSampler, stopped when the timed region ends
    record: dict = field(default_factory=dict)  # launch record, gets stop timings
    stopped: bool = False
    cleanup: threading.Thread | None = None  # removes Spark's files during the checks

    def fail(self, what: str, why: str) -> None:
        self.errors.append(f"{what}: {why}")

    def end_timed(self, t0: float) -> None:
        """Close the timed region: stop the memory sampler, read the Spark
        counters of every span so far (traced runs only), then end Spark.
        The checks that follow need no Spark session."""
        self.timed = (t0, time.perf_counter())
        if self.rss is not None:
            self.rss.stop()
        self.tracer.collect_counters()
        self.tracer.spark = None  # later spans (the checks) run no Spark jobs
        stop_spark(self.record)
        self.stopped = True
        self.cleanup = threading.Thread(
            target=shutil.rmtree, args=(os.environ["SPARK_LOCAL_DIRS"],),
            kwargs={"ignore_errors": True}, name="spark-local-cleanup")
        self.cleanup.start()

    def timed_wall(self) -> float:
        return self.timed[1] - self.timed[0]


def ms(spans) -> list[float]:
    return [(s["end"] - s["start"]) * 1e3 for s in spans]


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    v = sorted(values)
    return v[max(0, int(np.ceil(q / 100 * len(v))) - 1)]


def median(values) -> float:
    return statistics.median(values) if values else float("nan")


def dir_bytes(path: str, since: float | None = None) -> int:
    """Bytes on disk under ``path`` (only files modified at or after
    ``since`` when given)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except OSError:
                continue
            if since is None or st.st_mtime >= since:
                total += st.st_size
    return total


def spark_median(spans, key: str) -> float:
    return median([s.get("spark", {}).get(key, 0) for s in spans])


# ---------------------------------------------------------------------------
# index workload pieces
# ---------------------------------------------------------------------------


def build_base(ctx: Ctx, pdf) -> tuple[str, dict, dict]:
    """Fresh IndexBuilder.build of the base corpus; returns (dir, metrics,
    build span)."""
    idx = os.path.join(ctx.run_dir, "index")
    shutil.rmtree(idx, ignore_errors=True)
    with ctx.tracer.span("setup.inputs.frame"):
        docs = ctx.spark.createDataFrame(pdf)
    with ctx.tracer.span("index.build") as sp:
        b = IndexBuilder(ctx.spark, idx)
        b.build(docs, input_token=f"index-{ctx.seed}", resume=False)
    return idx, b.metrics, sp


def init_engine(ctx: Ctx, idx: str):
    """Engine construction, then two refresh() calls (same work as
    construction): set-up counts the median of the three."""
    with ctx.tracer.span("search.engine.init"):
        eng = SearchEngine(ctx.spark, idx)
    for _ in range(2):
        with ctx.tracer.span("search.engine.init", refresh=True):
            eng.refresh()
    return eng, median(ms(ctx.tracer.named("search.engine.init")[-3:])) / 1e3


def require_df_cache(eng, metrics: dict) -> None:
    """Cache-regime guard: the workload is sized for the engine's df cache
    to be on, and a size or seed change must not flip that silently."""
    if eng.df_cache is None:
        raise RuntimeError("expected the engine's df cache ON; "
                           f"n_terms={metrics['stage2_postings'].get('n_terms')}")


def build_layers(tracer: Tracer, metrics: dict, span: dict, content_bytes: int,
                 index_bytes: int) -> dict:
    """Stage figures from IndexBuilder.metrics, bytes, and (traced runs)
    the build's Spark counters, jobs of IndexBuilder's worker threads
    included (``thread_jobs`` of them)."""
    s1, s2, s3 = (metrics.get(k, {}) for k in
                  ("stage1_tokenize", "stage2_postings", "stage3_summaries"))
    out = {
        "index.build.wall_s": span["end"] - span["start"],
        "index.build.stage1_s": s1.get("seconds"),
        "index.build.stage1.tokenize_write_s": s1.get("tokenize_write_sec"),
        "index.build.stage2_s": s2.get("seconds"),
        "index.build.stage2.dict_s": s2.get("dict_sec"),
        "index.build.stage2.write_job_s": s2.get("write_job_sec"),
        "index.build.stage2.stats_job_s": s2.get("stats_job_sec"),
        "index.build.stage3_s": s3.get("seconds"),
        "index.build.n_terms": s2.get("n_terms"),
        "index.build.n_postings": s2.get("n_postings"),
        "index.build.index_bytes": index_bytes,
        "index.build.content_bytes": content_bytes,
    }
    if tracer.counters:
        for k in SPARK_COUNTERS + ("thread_jobs",):
            out[f"index.build.{k}"] = tracer.subtree_sum(span, k)
    return out


def run_single(ctx: Ctx, eng, slot, rid: str, **attrs) -> dict:
    """One search(q, 10).collect(); returns the call's record."""
    tr = ctx.tracer
    bmw_before = eng.last_bmw
    rec = {"slot": slot, "rows": None}
    with tr.span("search", request=rid, shape=slot.shape, cls=slot.cls, **attrs) as sp:
        try:
            with tr.span("query.parser"):
                q = parse_query(slot.text)
            with tr.span("search.plan"):
                frame = eng.search(q, K)
            with tr.span("search.exec"):
                rec["rows"] = frame.collect()
        except Exception as e:  # noqa: BLE001 — an operation failure is a result
            rec["error"] = repr(e)
    rec["span"] = sp
    rec["bmw"] = eng.last_bmw if eng.last_bmw is not bmw_before else None
    return rec


def run_batch(ctx: Ctx, eng, slots, rid: str, **attrs) -> dict:
    """One search_many({...}, 10).collect()."""
    tr = ctx.tracer
    members = {f"q{i}": s.text for i, s in enumerate(slots)}
    prune_before = eng.last_batch_prune
    rec = {"slots": slots, "members": members, "rows": None}
    with tr.span("search_many", request=rid, members=len(members), **attrs) as sp:
        try:
            with tr.span("search_many.plan"):
                frame = eng.search_many(members, K)
            rec["timings"] = dict(eng.last_batch_timings)
            rec["group_eval"] = eng.last_group_eval
            with tr.span("search_many.exec"):
                rec["rows"] = frame.collect()
        except Exception as e:  # noqa: BLE001
            rec["error"] = repr(e)
    rec["span"] = sp
    rec["prune"] = eng.last_batch_prune if eng.last_batch_prune is not prune_before else None
    return rec


def batch_answers(rows) -> dict[str, list]:
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(r)
    return out


def check_reads(ctx: Ctx, singles, batches, exact: bool, expected) -> None:
    """Every single answer and batch member against the oracle of the
    corpus state it was asked in."""

    def verdict(rows, text, exp):
        if exact:
            return checks.check_exact(checks.rows_to_answer(rows), exp.top(text, K))
        return checks.check_by_path(rows, K, exp.scores_by_path(text))

    for rec in singles:
        ctx.attempted += 1
        why = rec.get("error") or verdict(rec["rows"], rec["slot"].text, expected)
        if why:
            ctx.fail(f"search {rec['slot'].text!r}", why)
    for rec in batches:
        got = batch_answers(rec["rows"] or [])
        for qid, text in rec["members"].items():
            ctx.attempted += 1
            why = rec.get("error") or verdict(got.get(qid, []), text, expected)
            if why:
                ctx.fail(f"search_many member {text!r}", why)


def read_layers(ctx: Ctx, singles, batches, gate: int, df: dict) -> dict:
    """Per-layer figures of the read path (search and search_many)."""
    tr = ctx.tracer
    s_spans = [r["span"] for r in singles]
    ids = {s["id"] for s in s_spans}
    kids = [s for s in tr.spans if s["parent"] in ids]
    plan = [s for s in kids if s["name"] == "search.plan"]
    exe = [s for s in kids if s["name"] == "search.exec"]
    parse = [s for s in kids if s["name"] == "query.parser"]
    bmw = [r["bmw"] for r in singles if r["bmw"]]
    kept = sum(b["blocks_kept"] for b in bmw)
    total = sum(b["blocks_total"] for b in bmw)
    out = {
        "query.parse_us": median([v * 1e3 for v in ms(parse)]),
        "search.plan_ms": median(ms(plan)),
        "search.exec_ms": median(ms(exe)),
        "search.above_gate_share": float(np.mean(
            [inputs.volume(r["slot"].text, df) >= gate for r in singles])),
        "search.pruned_share": len(bmw) / len(singles) if singles else 0.0,
        "search.bmw_blocks_kept_ratio": kept / total if total else None,
        "search.bmw_blocks_total": total,
    }
    if ctx.tracer.counters:
        out.update({
            "search.plan_jobs": spark_median(plan, "jobs"),
            "search.plan_driver_ms": spark_median(plan, "driver_ms"),
            "search.exec_tasks": spark_median(exe, "tasks"),
            "search.executor_run_ms": spark_median(exe, "executor_run_ms"),
            "search.shuffle_bytes": spark_median(exe, "shuffle_write_bytes"),
        })
    if batches:
        b_ids = {r["span"]["id"] for r in batches}
        b_kids = [s for s in tr.spans if s["parent"] in b_ids]
        b_exec = [s for s in b_kids if s["name"] == "search_many.exec"]
        ge = sum((r.get("group_eval") or {}).get("members", 0) for r in batches)
        fallback = sum(1 for r in batches for s in r["slots"] if s.shape == "lang")
        postings_only = sum(
            1 for r in batches for s in r["slots"]
            if s.shape != "lang" and inputs.volume(s.text, df) > 0
        )
        prunes = [r["prune"] for r in batches if r["prune"]]
        bk = sum(p["blocks_kept"] for p in prunes)
        bt = sum(p["blocks_total"] for p in prunes)
        out.update({
            "search_many.prep_ms": median([r["timings"]["prep_sec"] * 1e3 for r in batches if "timings" in r]),
            "search_many.mask_ms": median([r["timings"]["mask_sec"] * 1e3 for r in batches if "timings" in r]),
            "search_many.plan_ms": median([r["timings"]["plan_sec"] * 1e3 for r in batches if "timings" in r]),
            "search_many.exec_ms": median(ms(b_exec)),
            "search_many.group_eval_members": ge,
            "search_many.pivot_members": postings_only - ge,
            "search_many.fallback_members": fallback,
            "search_many.batch_blocks_kept_ratio": bk / bt if bt else None,
            "search_many.batch_blocks_total": bt,
        })
        if ctx.tracer.counters:
            out.update({f"search_many.{k}": spark_median(b_exec, k)
                        for k in ("jobs", "tasks", "executor_run_ms", "shuffle_write_bytes")})
    return out


def warm_reads(ctx: Ctx, eng, df: dict, n_docs: int, gate: int) -> None:
    """Untimed first calls (codegen, JIT, Python worker start, bloom loads):
    WARM_PASSES whole serve passes, each a grid drawn from another seed
    (every shape and every class, above and below the gate), then half of
    it as one batch. Warmed with half a pass, the first timed pass ran
    14-27 % slower than the next (a share that varied from run to run);
    after one and a half, consecutive passes were within ~4 %."""
    with ctx.tracer.span("setup.warm_reads"):
        for n in range(WARM_PASSES):
            slots = inputs.query_grid(df, n_docs, gate, ctx.seed + 101 + n)
            for s in slots:
                eng.search(s.text, K).collect()
            eng.search_many({f"w{i}": s.text for i, s in enumerate(slots[:SERVE_BATCH])},
                            K).collect()


# ---------------------------------------------------------------------------
# index: serve a read stream on a clean index, then upsert beside reads
# ---------------------------------------------------------------------------


def _index_state(idx: str) -> tuple[int, int]:
    """(pending generations, tombstoned ids) read from the index files."""
    import pyarrow.parquet as pq

    gens = 0
    gp = os.path.join(idx, "generations")
    if os.path.exists(gp):
        with open(gp) as fh:
            gens = sum(1 for line in fh if line.strip())
    tombs = 0
    tp = os.path.join(idx, "tombstones")
    if os.path.isdir(tp):
        for f in os.listdir(tp):
            if f.endswith(".parquet"):
                tombs += pq.read_metadata(os.path.join(tp, f)).num_rows
    return gens, tombs


def index(ctx: Ctx) -> None:
    """Serve phase: whole passes of single searches (one per shape x class
    slot), each pass ending with one search_many batch, until the run's
    seconds are spent. Each pass draws its own queries, so that no pass
    reads terms an earlier one left cached. Ingest phase:
    update of one delta -> refresh -> reads."""
    tr = ctx.tracer
    n_delta = int(N_DOCS * DELTA_FRAC)
    with tr.span("setup.inputs"):
        base = make_bench_corpus(N_DOCS, ctx.seed, VOCAB)
        df = inputs.doc_freq(base)
        delta = inputs.make_delta(base, n_delta, ctx.seed, VOCAB)
    content_bytes = int(base["content"].str.len().sum())
    idx, bmetrics, build_sp = build_base(ctx, base)
    build_s = build_sp["end"] - build_sp["start"]
    base_bytes = dir_bytes(idx)
    eng, init_s = init_engine(ctx, idx)
    require_df_cache(eng, bmetrics)
    gate = eng.single_prune_min_postings
    ingest_q = inputs.query_grid(df, N_DOCS, gate, ctx.seed + 2, head_terms=3)
    inc = IncrementalIndexer(ctx.spark, idx)
    warm_reads(ctx, eng, df, N_DOCS, gate)
    ctx.setup_s = setup_seconds(ctx, init_s)

    # -- serve phase ----------------------------------------------------
    serve_s, serve_bt = [], []
    t0 = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t0 < ctx.seconds:
        with tr.span("serve.inputs"):
            singles = inputs.query_grid(df, N_DOCS, gate, ctx.seed + 1000 * passes)
            batch = inputs.query_grid(df, N_DOCS, gate, ctx.seed + 1000 * passes + 1)
        for i, slot in enumerate(singles):
            serve_s.append(run_single(ctx, eng, slot, f"p{passes}s{i}"))
        serve_bt.append(run_batch(ctx, eng, batch[:SERVE_BATCH], f"p{passes}b"))
        passes += 1
    t_serve = time.perf_counter()

    # -- ingest phase ---------------------------------------------------
    t_wall = time.time()
    with tr.span("ingest.visible", request="update") as vis:
        with tr.span("streaming.update") as up:
            try:
                ures = inc.update(ctx.spark.createDataFrame(delta),
                                  input_token=f"delta-{ctx.seed}")
            except Exception as e:  # noqa: BLE001
                ures = {"error": repr(e)}
        with tr.span("streaming.refresh"):
            eng.refresh()
    written = dir_bytes(idx, since=t_wall)
    gens, tombs = _index_state(idx)
    ing_s = [run_single(ctx, eng, slot, f"i{i}", gens=gens, tombs=tombs)
             for i, slot in enumerate(ingest_q[:INGEST_SINGLES])]
    ing_bt = [run_batch(ctx, eng, ingest_q[INGEST_SINGLES:INGEST_SINGLES + INGEST_BATCH],
                        "ib", gens=gens, tombs=tombs)]
    ctx.end_timed(t0)
    ctx.primary = [r["span"] for r in serve_s]
    ctx.work_units = len(serve_s) + len(ing_s) + sum(
        len(b["members"]) for b in serve_bt + ing_bt)

    with tr.span("oracle.check"):
        key = f"index|{ctx.seed}|{N_DOCS}|{VOCAB}|{ctx.source_digest}"
        before = checks.Expected(ctx.cache_dir, key + "|base", base)
        ctx.attempted += 1
        why = checks.check_index_counts(bmetrics, before.stats())
        if why:
            ctx.fail("index.build", why)
        check_reads(ctx, serve_s, serve_bt, exact=True, expected=before)
        after = checks.Expected(ctx.cache_dir, key + "|delta",
                                inputs.apply_delta(base, delta))
        check_reads(ctx, ing_s, ing_bt, exact=False, expected=after)
        ctx.attempted += 1
        if "error" in ures:
            ctx.fail("update", ures["error"])
        before.save()
        after.save()

    lat = ms([r["span"] for r in serve_s])
    blat = ms([r["span"] for r in serve_bt])
    ilat = ms([r["span"] for r in ing_s])
    serve_answered = len(serve_s) + sum(len(b["members"]) for b in serve_bt)
    ctx.report.update({
        "search_p50_ms": (median(lat), "ms"),
        "search_p90_ms": (pct(lat, 90), "ms"),
        "search_samples": (len(lat), "count"),
        "search_many_p50_ms": (median(blat), "ms"),
        "search_many_samples": (len(blat), "count"),
        "serve_qps": (serve_answered / (t_serve - t0), "1/s"),
        "update_visible_p50_ms": (ms([vis])[0], "ms"),
        "ingest_search_p50_ms": (median(ilat), "ms"),
        "ingest_search_p90_ms": (pct(ilat, 90), "ms"),
        "ingest_search_samples": (len(ilat), "count"),
        "build_docs_per_s": (N_DOCS / build_s, "1/s"),
        "index_bytes_per_content_byte": (base_bytes / content_bytes, "ratio"),
        "index_bytes_after_build": (base_bytes, "bytes"),
        "serve_passes": (passes, "count"),
    })
    ctx.layers.update(build_layers(tr, bmetrics, build_sp, content_bytes, base_bytes))
    ctx.layers["search.init_ms"] = init_s * 1e3
    ctx.layers.update(read_layers(ctx, serve_s, serve_bt, gate, df))
    ctx.layers.update({f"ingest.{k}": v
                       for k, v in read_layers(ctx, ing_s, ing_bt, gate, df).items()})
    ctx.layers.update({
        "streaming.update_ms": ms([up])[0],
        "streaming.update.bytes_written": written,
        "streaming.refresh_ms": ms(tr.named("streaming.refresh"))[0],
        "streaming.pending_generations": gens,
        "streaming.tombstones": tombs,
    })
    if tr.counters:
        for k in SPARK_COUNTERS:
            ctx.layers[f"streaming.update.{k}"] = tr.subtree_sum(up, k)


# ---------------------------------------------------------------------------
# ops: the ten training-data operator leaves
# ---------------------------------------------------------------------------


def ops(ctx: Ctx) -> None:
    import __spark_entry__ as entry

    tr = ctx.tracer
    data = os.path.join(ctx.run_dir, "ops-data")
    with tr.span("setup.inputs"):
        inputs.write_ops_tables(inputs.ops_tables(ctx.seed, **OPS_SIZES), data)
    qs = entry.queries()

    def leaf(name: str, rid: str) -> None:
        with tr.span(f"ops.{name}", request=rid):
            qs[name](ctx.spark, data).write.format("noop").mode("overwrite").save()

    # the untimed first run of every leaf collects its rows: warm-up and
    # the output the DuckDB check compares, in one execution
    got = {}
    with tr.span("setup.warm_sweep"):
        for name in OPS_LEAVES:
            with tr.span(f"ops.{name}", request=f"warm-{name}"):
                try:
                    got[name] = qs[name](ctx.spark, data).toPandas()
                except Exception as e:  # noqa: BLE001
                    got[name] = e
        for n in range(1, OPS_WARM_SWEEPS):
            for name in OPS_LEAVES:
                if not isinstance(got[name], Exception):
                    leaf(name, f"warm{n}")
    ctx.setup_s = setup_seconds(ctx, None)

    rng = np.random.RandomState(ctx.seed)
    sweeps = []
    failures = []
    t0 = time.perf_counter()
    while len(sweeps) < OPS_MIN_SWEEPS or time.perf_counter() - t0 < ctx.seconds:
        n = len(sweeps)
        with tr.span("ops.sweep", request=f"sweep{n}") as sp:
            for name in (OPS_LEAVES[i] for i in rng.permutation(len(OPS_LEAVES))):
                try:
                    leaf(name, f"sweep{n}")
                except Exception as e:  # noqa: BLE001
                    failures.append(f"ops.{name}: {e!r}")
        sweeps.append(sp)
    ctx.end_timed(t0)
    ctx.primary, ctx.work_units = sweeps, len(sweeps) * len(OPS_LEAVES)
    ctx.attempted += len(sweeps) * len(OPS_LEAVES)
    for f in failures:
        ctx.fail("ops", f)

    with tr.span("oracle.check"):
        con = checks.duckdb_views(data, OPS_TABLES)
        oracles = entry.oracle_sql()
        for name in OPS_LEAVES:
            ctx.attempted += 1
            if isinstance(got[name], Exception):
                why = repr(got[name])
            else:
                why = checks.compare_frames(got[name], con.sql(oracles[name]).df())
            if why:
                ctx.fail(f"ops.{name} vs DuckDB", why)
        con.close()

    timed_ids = {s["id"] for s in sweeps}
    per_leaf = {}
    for name in OPS_LEAVES:
        spans = [s for s in tr.named(f"ops.{name}") if s["parent"] in timed_ids]
        per_leaf[name] = median(ms(spans)) / 1e3
        ctx.layers[f"ops.{name}_s"] = per_leaf[name]
        if tr.counters:
            ctx.layers[f"ops.{name}.shuffle_write_bytes"] = spark_median(spans, "shuffle_write_bytes")
    ctx.report.update({
        "ops_total_s": (sum(per_leaf.values()), "s"),
        "sweeps": (len(sweeps), "count"),
    })


WORKLOADS = {"index": index, "ops": ops}

# spans whose time counts as set-up (engine init enters as a median of 3)
_SETUP_SPANS = ("session.get_spark", "session.warmup", "setup.inputs", "setup.inputs.frame",
                "index.build", "setup.warm_reads", "setup.warm_sweep")


def setup_seconds(ctx: Ctx, init_s: float | None) -> float:
    total = sum(s["end"] - s["start"] for s in ctx.tracer.spans
                if s["name"] in _SETUP_SPANS and "end" in s)
    return total + (init_s or 0.0)
