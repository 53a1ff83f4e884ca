"""The three workloads. Each runs closed-loop (one superstep or chain at a
time) for at least ``seconds``, checks its outputs outside the timed spans
and returns a :class:`Outcome`.

- ``crawl_deep``: complete crawls by ``CrawlEngine``, discarded at a round
  boundary and resumed from its snapshots; checked against
  ``ReferenceSimulator``.
- ``frontier_kernel``: one schedule+dedup superstep over JVM-generated
  tables (``operators.gates`` + ``operators.seen``, no fetch, no store);
  checked against a plain no-bloom Spark plan.
- ``curate_docs``: the training-data read path through ``SnapshotStore``:
  exact dedup -> near duplicates -> Gopher gate -> packing, result written;
  checked against a pure-Python restatement.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.harness import Env, median
from perfbench.trace import JobCounter, Tracer


@dataclass
class Outcome:
    items: float                 # pages, URLs or docs per step (or crawl)
    item_unit: str
    items_per_s: float
    step_walls: list[float]      # the closed-loop steps, for step_p50_s
    step_name: str               # span name of one step
    step_counts: list[dict] = field(default_factory=list)  # jobs/stages/tasks
    attempted: int = 0
    failed: int = 0
    counts: dict = field(default_factory=dict)    # exact, must repeat
    named: dict = field(default_factory=dict)     # {name: (value, unit)}
    layer: dict = field(default_factory=dict)     # {name: (value, unit)}
    layer_counts: dict = field(default_factory=dict)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tr: Tracer, name: str, fn, **attrs) -> float:
    with tr.span(name, **attrs) as s:
        fn()
    return s["end"] - s["start"]


# ================================================================ crawl_deep


def crawl_deep(env: Env, tr: Tracer, seconds: float) -> Outcome:
    from anycrawl_spark.crawl.simulator import ReferenceSimulator

    with tr.span("gen.inputs"):
        spec = gen.crawl_deep_spec(env.seed)
    crawls, t_begin = [], time.time()
    while not crawls or time.time() - t_begin < seconds:
        crawls.append(_one_crawl(env, tr, spec, len(crawls)))
    last = crawls[-1]

    eng = last["engine"]
    with tr.span("check"):
        sim = ReferenceSimulator(spec.jobs, gen.DEEP_ROBOTS, gen.DEEP_PARAMS, web=gen.DEEP_WEB)
        sim.run()
        reference = {"seen": sim.seen_sets(), "discovery": sim.discovery(),
                     "terminal": sim.terminal_status()}
        engine = {"seen": eng.seen_sets(), "discovery": eng.discovery(),
                  "terminal": eng.terminal_status()}
        attempted, failed = checks.crawl_check(engine, reference)

    rounds = [r for c in crawls for r in c["rounds"]]
    n_rounds = len(last["rounds"])
    tm = eng.store.table_metrics()
    files = sum(len(e.get("files", [])) for e in eng.store.manifest["lineage"].values())
    stored_bytes = sum(t["bytes"] for t in tm.values())
    pages = last["pages"]
    out = Outcome(
        items=pages, item_unit="pages",
        items_per_s=median([c["pages"] / c["wall"] for c in crawls]),
        step_walls=[r["wall"] for r in rounds], step_name="superstep.round",
        step_counts=rounds, attempted=attempted, failed=failed,
    )
    out.counts = {
        "jobs": len(spec.jobs),
        "rounds": n_rounds,
        "pages": pages,
        "enqueued": sum(eng.enqueued.values()),
        "scheduled_per_round": [r["scheduled"] for r in last["rounds"]],
        "fresh_per_round": [r["fresh"] for r in last["rounds"]],
        "spark_jobs_per_round": [r["jobs"] for r in last["rounds"]],
        "spark_stages_per_round": [r["stages"] for r in last["rounds"]],
        "spark_jobs_resume": last["resume_jobs"],
        "table_rows": {t: v["rows"] for t, v in sorted(tm.items())},
        "table_bytes": {t: v["bytes"] for t, v in sorted(tm.items())},
    }
    out.named = {
        "crawl_pages_per_s": (out.items_per_s, "pages/s"),
        "crawl_round_p50_s": (median(out.step_walls), "s"),
        "crawl_round_samples": (len(out.step_walls), "count"),
        "crawl_resume_s": (median([c["resume_s"] for c in crawls]), "s"),
        "crawl_wall_s": (median([c["wall"] for c in crawls]), "s"),
        "crawl_init_s": (median([c["init_s"] for c in crawls]), "s"),
    }
    per_round = lambda k: sum(r[k] for r in last["rounds"]) / n_rounds  # noqa: E731
    out.layer = {
        "superstep.spark_jobs_per_round": (per_round("jobs"), "count"),
        "superstep.spark_stages_per_round": (per_round("stages"), "count"),
        "superstep.tasks_per_round": (per_round("tasks"), "count"),
        "superstep.resume_s": (out.named["crawl_resume_s"][0], "s"),
        "storage.files_per_round": (files / n_rounds, "count"),
        "storage.bytes_per_page": (stored_bytes / max(pages, 1), "B"),
    }
    out.layer_counts = {
        "storage.files_written": files / n_rounds,
        "storage.bytes_written": stored_bytes / n_rounds,
        "spans.pages": pages / n_rounds,
        "gates.scheduled_rows": sum(r["scheduled"] for r in last["rounds"]) / n_rounds,
        "seen.fresh_rows": sum(r["fresh"] for r in last["rounds"]) / n_rounds,
    }
    if env.trace:
        _crawl_trace_layers(tr, out, last, n_rounds)
        _crawl_curation(env, tr, out)
    return out


def _crawl_curation(env: Env, tr: Tracer, out: Outcome) -> None:
    """Traced runs only: the training-data path after a crawl. A seeded
    document set with planted exact, near and repetitive duplicates is
    stored through ``SnapshotStore``, read back and curated by
    :func:`_curation_replay`; the kept doc ids are checked against the
    pure-Python reference and add to the run's attempted and failed units.
    Packing is not run here (see ``curate_docs``)."""
    from anycrawl_spark.storage import SnapshotStore

    spec = gen.curate_docs_spec(env.seed, gen.CRAWL_CURATE_UNIQUE)
    store = SnapshotStore(os.path.join(env.dir, "store", "curate"), env.spark)
    with tr.span("gen.documents"):
        store.write("documents", gen.curate_documents(env.spark, spec, 2 * env.nproc))
        store.commit_round(0)
    cached: list[DataFrame] = []
    with tr.span("curation"):
        d3, layer = _curation_replay(tr, store, cached)
    kept = {r.doc_id for r in d3.select("doc_id").collect()}
    for df in cached:
        df.unpersist()
    docs_in = {r.doc_id: r.text for r in store.read("documents").select("doc_id", "text").collect()}
    expected = checks.curate_reference(docs_in, gen.CURATE_PACK_BUDGET)
    attempted, failed = checks.kept_check(docs_in, kept, expected)
    out.attempted += attempted
    out.failed += failed
    out.counts["curation"] = {"docs": len(docs_in), "kept": len(kept),
                              "candidate_pairs": layer["dedup.candidate_pairs"][0]}
    out.layer.update(layer)
    out.layer_counts["dedup.candidate_pairs"] = layer["dedup.candidate_pairs"][0]


def _one_crawl(env: Env, tr: Tracer, spec: gen.CrawlSpec, idx: int) -> dict:
    from anycrawl_spark.crawl.superstep import CrawlEngine

    spark = env.spark
    wd = os.path.join(env.dir, "store", f"crawl{idx}")
    counter = JobCounter(spark)
    rounds: list[dict] = []

    def new_engine():
        eng = CrawlEngine(spark, wd, spec.jobs, gen.DEEP_ROBOTS, gen.DEEP_PARAMS,
                          web=gen.DEEP_WEB)
        if env.trace:
            _wrap_store(eng.store, tr)
        return eng

    def step(eng, r):
        if env.trace and r == gen.DEEP_REPLAY_ROUND:
            _crawl_replay(env, tr, spec, eng, r, replay)
            counter.take()
        with tr.span("superstep.round", round=r) as s:
            stats = eng.run_round(r)
        rounds.append({"round": r, "wall": s["end"] - s["start"],
                       "scheduled": stats["scheduled"], "fresh": stats["fresh"],
                       **counter.take()})

    replay: dict = {}
    t0 = time.time()
    with tr.span("crawl", crawl=idx):
        with tr.span("superstep.init_state"):
            eng = new_engine()
            eng.init_state()
        init_s = time.time() - t0
        counter.take()
        for r in range(gen.DEEP_RESUME_AFTER + 1):
            step(eng, r)
        eng = None  # discard the engine at a round boundary
        t_res = time.time()
        with tr.span("superstep.resume"):
            eng = new_engine()
            r = eng.resume()
        resume_jobs = counter.take()
        step(eng, r)
        # a traced run's replay is not part of the resume (nor of the crawl)
        resume_s = time.time() - t_res - replay.get("replay_s", 0.0)
        r += 1
        while len(eng.finalized) < len(spec.jobs) and r < gen.DEEP_PARAMS.max_rounds:
            step(eng, r)
            r += 1
    wall = time.time() - t0 - replay.get("replay_s", 0.0)
    return {"engine": eng, "rounds": rounds, "pages": sum(eng.done.values()),
            "wall": wall, "init_s": init_s, "resume_s": resume_s, "replay": replay,
            "resume_jobs": resume_jobs["jobs"]}


def _wrap_store(store, tr: Tracer) -> None:
    """Traced runs only: time every storage call the engine makes (appends
    run on the engine's worker threads) as a span under the open span."""
    def wrap(op, fn):
        def timed(*args, **kwargs):
            t = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                tr.record(f"storage.{op}", t, time.time(), tr.current,
                          table=str(args[0]) if args else "")
        return timed
    for op in ("append", "write", "read", "read_appends", "commit_round"):
        setattr(store, op, wrap(op, getattr(store, op)))


def _crawl_replay(env: Env, tr: Tracer, spec, eng, rnd: int, out: dict) -> None:
    """Traced runs only: replay round ``rnd``'s own inputs through the
    layers whose work otherwise runs inside ``run_round``'s actions —
    schedule (gates), fetch_extract (spans), candidate gate, seen filter and
    shard merge — each into a materialized cache or a noop sink."""
    from anycrawl_spark.operators.gates import (
        apply_budget, apply_politeness, make_candidate_gate,
    )
    from anycrawl_spark.operators.seen import (
        _broadcast_probe, filter_fresh, merge_bloom_shards, with_dedup_key,
    )
    from anycrawl_spark.operators.spans import fetch_extract

    t0 = time.time()
    nb = eng.num_buckets
    cached: list[DataFrame] = []

    def keep(df):
        df = df.persist()
        cached.append(df)
        return df

    with tr.span("replay", round=rnd):
        active = [j["job_id"] for j in spec.jobs if j["job_id"] not in eng.finalized]
        remaining = {j: max(0, eng.limit_by_job[j] - eng.done.get(j, 0)) for j in active}
        pending = eng.store.read("frontier").filter(
            (F.col("status") == "pending") & (F.col("next_eligible_round") <= rnd)
            & F.col("job_id").isin(active)
        )
        sched = keep(apply_budget(
            apply_politeness(pending, eng.host_delays, gen.DEEP_PARAMS), remaining))
        out["gates.schedule_s"] = _timed(tr, "gates.schedule", sched.count)
        out["scheduled"] = sched.count()

        docs = keep(fetch_extract(sched.repartition(env.nproc), gen.DEEP_WEB))
        out["spans.fetch_extract_s"] = _timed(tr, "spans.fetch_extract", docs.count)
        ok = docs.filter(F.col("status_code") == 200)
        agg = ok.agg(F.count("*"), F.sum(F.size("spans")), F.sum(F.size("links"))).first()
        out["pages"], out["spans"], out["links"] = docs.count(), agg[1] or 0, agg[2] or 0
        out["ok_pages"] = agg[0]

        links = ok.select(
            "job_id", F.col("depth").alias("parent_depth"),
            F.col("discovery_seq").alias("parent_seq"),
            F.col("url_hash").alias("parent_url_hash"),
            F.posexplode("links").alias("ordinal", "url"),
        )
        max_depth = F.create_map(*[F.lit(x) for j in spec.jobs for x in (j["job_id"], j["max_depth"])])
        gate = make_candidate_gate(spec.jobs, eng.robots_by_host, eng.robots_rfc_by_host)
        w_first = Window.partitionBy("job_id", "url_hash").orderBy("parent_depth", "parent_seq", "ordinal")
        cand = keep(
            links.withColumn("depth", F.col("parent_depth") + 1)
            .filter(F.col("depth") <= max_depth[F.col("job_id")])
            .withColumn("_g", gate(F.col("job_id"), F.col("url"), F.lit(None).cast("string")))
            .filter(F.col("_g.keep"))
            .withColumn("url", F.col("_g.url")).withColumn("host", F.col("_g.host"))
            .drop("_g").withColumn("url_hash", F.xxhash64("url"))
            .withColumn("_rn", F.row_number().over(w_first)).filter(F.col("_rn") == 1).drop("_rn")
        )
        out["gates.candidate_s"] = _timed(tr, "gates.candidate", cand.count)
        out["candidates"] = cand.count()

        seen = eng.store.read_appends("seen").select("job_id", "url_hash")
        seen_keyed = with_dedup_key(seen, nb)
        shards = keep(merge_bloom_shards(None, seen_keyed).select("bucket", "gen", "n_keys", "bloom"))
        out["seen.build_shards_s"] = _timed(tr, "seen.build_shards", shards.count)
        fresh = keep(filter_fresh(cand, seen, nb, shards=shards, seen_count=seen.count()))
        out["seen.dedup_s"] = _timed(tr, "seen.dedup", fresh.count)
        out["fresh"] = fresh.count()
        out["bloom_positives"] = (
            _broadcast_probe(with_dedup_key(cand, nb), shards).filter("maybe_seen").count()
        )
        fresh_keyed = with_dedup_key(fresh.select("job_id", "url_hash"), nb)
        out["seen.merge_s"] = _timed(
            tr, "seen.merge", lambda: _noop(merge_bloom_shards(shards, fresh_keyed))
        )
        out["shard_bytes"] = shards.agg(F.sum(F.length("bloom"))).first()[0] or 0
    for df in cached:
        df.unpersist()
    out["round"] = rnd
    out["replay_s"] = time.time() - t0


def _crawl_trace_layers(tr: Tracer, out: Outcome, last: dict, n_rounds: int) -> None:
    rp = last["replay"]
    round_ids = {s["id"] for s in tr.spans if s["name"] == "superstep.round"}
    per_round: dict[str, float] = {}
    for s in tr.spans:
        if s["name"].startswith("storage.") and s["parent"] in round_ids:
            op = s["name"].split(".", 1)[1]
            key = {"append": f"storage.append_s.{s['table']}",
                   "write": f"storage.write_s.{s['table']}",
                   "commit_round": "storage.commit_round_s"}.get(op, "storage.read_s")
            per_round[key] = per_round.get(key, 0.0) + (s["end"] - s["start"])
    for t in ("documents", "seen", "frontier_log", "metrics", "progress", "bloom_shards"):
        per_round.setdefault(f"storage.append_s.{t}", 0.0)
    per_round.setdefault("storage.write_s.frontier", 0.0)
    n_crawl_rounds = len(round_ids)
    for k, v in per_round.items():
        out.layer[k] = (v / n_crawl_rounds, "s")
    positives = rp["bloom_positives"]
    true_dups = rp["candidates"] - rp["fresh"]
    out.layer.update({
        "spans.pages_per_s": (rp["pages"] / rp["spans.fetch_extract_s"], "pages/s"),
        "spans.spans_per_page": (rp["spans"] / max(rp["ok_pages"], 1), "count"),
        "spans.links_per_page": (rp["links"] / max(rp["ok_pages"], 1), "count"),
        "gates.schedule_s": (rp["gates.schedule_s"], "s"),
        "gates.candidate_urls_per_s": (rp["links"] / rp["gates.candidate_s"], "URLs/s"),
        "gates.admit_ratio": (rp["candidates"] / max(rp["links"], 1), "ratio"),
        "seen.dedup_s": (rp["seen.dedup_s"], "s"),
        "seen.bloom_positive_ratio": (positives / max(rp["candidates"], 1), "ratio"),
        "seen.bloom_fp_ratio": ((positives - true_dups) / max(positives, 1), "ratio"),
        "seen.merge_s": (rp["seen.merge_s"], "s"),
        "seen.shard_bytes": (rp["shard_bytes"], "B"),
        "replay.fresh_matches_round": (float(rp["fresh"] == next(
            r["fresh"] for r in last["rounds"] if r["round"] == rp["round"])), "bool"),
    })
    out.layer_counts["seen.bloom_positives"] = positives


# =========================================================== frontier_kernel


def frontier_kernel(env: Env, tr: Tracer, seconds: float) -> Outcome:
    from anycrawl_spark.crawl.params import CrawlParams
    from anycrawl_spark.operators.gates import apply_budget, apply_politeness
    from anycrawl_spark.operators.seen import (
        ShardBroadcast, _broadcast_probe, filter_fresh, merge_bloom_shards, with_dedup_key,
    )

    spark = env.spark
    spec = gen.frontier_kernel_spec(env.seed)
    pending, cand, seen = gen.frontier_tables(spark, spec)  # lazy: built in the JVM
    # the seen filter's bloom shards are cross-round state: built once,
    # before timing, as the engine maintains them across rounds
    with tr.span("seen.build_shards"):
        shards = merge_bloom_shards(None, with_dedup_key(seen, gen.KERNEL_BUCKETS)).select(
            "bucket", "gen", "n_keys", "bloom").localCheckpoint(eager=True)
        shard_bc = ShardBroadcast(spark)
        shard_bc.apply_delta(shards.select("bucket", "gen", "bloom").collect())
    params = CrawlParams(default_host_tokens=gen.KERNEL_HOST_TOKENS)
    hot_delay = params.round_window_ms // gen.KERNEL_HOT_HOST_TOKENS
    host_delays = {f"hot{i}": hot_delay for i in range(3)}
    remaining = {f"job-{j}": gen.KERNEL_BUDGET for j in range(gen.KERNEL_JOBS)}
    w_seq = Window.partitionBy("job_id").orderBy("parent_depth", "parent_seq", "ordinal")

    def scheduled():
        return apply_budget(apply_politeness(pending, host_delays, params), remaining)

    def fresh():
        return filter_fresh(cand, seen, gen.KERNEL_BUCKETS, shards=shards,
                            seen_count=gen.KERNEL_SEEN, shards_bc=shard_bc.bc
                            ).withColumn("discovery_seq", F.row_number().over(w_seq))

    # check: scheduled + fresh rows against a plain no-bloom plan. It runs
    # before the timed supersteps, so it also warms the JIT and the code
    # generated for the same plans.
    with tr.span("check"):
        sched_ref = _plain_schedule(pending, hot_delay, params)
        fresh_ref = cand.join(seen, ["job_id", "url_hash"], "left_anti").withColumn(
            "discovery_seq", F.row_number().over(w_seq))
        n_sched, bad_sched = _row_diff(scheduled(), sched_ref)
        n_fresh, bad_fresh = _row_diff(fresh(), fresh_ref)

    counter = JobCounter(spark)
    steps: list[dict] = []

    def superstep(name):
        with tr.span(name) as s:
            t_s = _timed(tr, "gates.schedule", lambda: _noop(scheduled()))
            t_d = _timed(tr, "seen.dedup", lambda: _noop(fresh()))
        steps.append({"wall": s["end"] - s["start"], "schedule_s": t_s, "dedup_s": t_d,
                      **counter.take()})

    t_begin = time.time()
    while not steps or time.time() - t_begin < seconds:
        superstep("kernel.superstep")
    attempted, failed = n_sched + n_fresh, bad_sched + bad_fresh

    walls = [s["wall"] for s in steps]
    out = Outcome(
        items=gen.KERNEL_URLS, item_unit="URLs", items_per_s=gen.KERNEL_URLS / median(walls),
        step_walls=walls, step_name="kernel.superstep", step_counts=steps,
        attempted=attempted, failed=failed,
    )
    out.counts = {
        "scheduled": n_sched, "fresh": n_fresh,
        # distinct values, so the record does not depend on how many
        # supersteps fit in the run
        "spark_jobs_per_superstep": sorted({s["jobs"] for s in steps}),
        "spark_stages_per_superstep": sorted({s["stages"] for s in steps}),
    }
    out.named = {
        "frontier_urls_per_s": (out.items_per_s, "URLs/s"),
        "frontier_superstep_p50_s": (median(walls), "s"),
        "frontier_superstep_samples": (len(walls), "count"),
    }
    out.layer = {
        "gates.schedule_s": (median([s["schedule_s"] for s in steps]), "s"),
        "seen.dedup_s": (median([s["dedup_s"] for s in steps]), "s"),
        "seen.candidate_urls_per_s": (
            gen.KERNEL_CANDIDATES / median([s["dedup_s"] for s in steps]), "URLs/s"),
    }
    out.layer_counts = {"gates.scheduled_rows": n_sched, "seen.fresh_rows": n_fresh}
    if env.trace:
        cand_keyed = with_dedup_key(cand, gen.KERNEL_BUCKETS)
        positives = _broadcast_probe(cand_keyed, shards, bc=shard_bc.bc).filter("maybe_seen").count()
        true_dups = gen.KERNEL_CANDIDATES - n_fresh
        fresh_keyed = with_dedup_key(fresh().select("job_id", "url_hash"), gen.KERNEL_BUCKETS)
        merge_s = _timed(tr, "seen.merge", lambda: _noop(merge_bloom_shards(shards, fresh_keyed)))
        out.layer.update({
            "seen.bloom_positive_ratio": (positives / gen.KERNEL_CANDIDATES, "ratio"),
            "seen.bloom_fp_ratio": ((positives - true_dups) / max(positives, 1), "ratio"),
            "seen.merge_s": (merge_s, "s"),
            "seen.shard_bytes": (shard_bc.nbytes, "B"),
        })
        out.layer_counts["seen.bloom_positives"] = positives
    shard_bc.close()
    return out


def _row_diff(got: DataFrame, want: DataFrame) -> tuple[int, int]:
    """(rows wanted, rows in one output but not the other, duplicates
    counted), compared on a 64-bit hash of (job_id, url_hash, discovery_seq)
    collected through Arrow."""
    def hashes(df):
        h = F.xxhash64("job_id", "url_hash", "discovery_seq").alias("h")
        return df.select(h).toPandas()["h"].to_numpy()

    w = hashes(want)
    return len(w), checks.multiset_diff(hashes(got), w)


def _plain_schedule(pending, hot_delay, params) -> DataFrame:
    """Politeness then budget as plain SQL windows, written independently
    of ``operators.gates``."""
    hot_tokens = max(1, params.round_window_ms // hot_delay)
    pending.createOrReplaceTempView("perfbench_pending")
    return pending.sparkSession.sql(f"""
        SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY job_id
                                       ORDER BY depth, discovery_seq) AS _br
          FROM (
            SELECT *, row_number() OVER (PARTITION BY job_id, host
                                         ORDER BY depth, discovery_seq) AS _hr
            FROM perfbench_pending)
          WHERE _hr <= CASE WHEN host IN ('hot0', 'hot1', 'hot2') THEN {hot_tokens}
                            ELSE {gen.KERNEL_HOST_TOKENS} END)
        WHERE _br <= {gen.KERNEL_BUDGET}""")


# ============================================================== curate_docs


def curate_docs(env: Env, tr: Tracer, seconds: float) -> Outcome:
    from anycrawl_spark.functions.repetition import gopher_repetition_gate
    from anycrawl_spark.operators.dedup import exact_dedup, near_duplicates
    from anycrawl_spark.operators.packing import pack_documents
    from anycrawl_spark.storage import SnapshotStore

    spark = env.spark
    spec = gen.curate_docs_spec(env.seed)
    store = SnapshotStore(os.path.join(env.dir, "store", "curate"), spark)
    with tr.span("gen.documents"):
        store.write("documents", gen.curate_documents(spark, spec, 2 * env.nproc))
        store.commit_round(0)
    n_docs = len(spec.rows)

    def stages(docs):
        d1 = exact_dedup(docs, "doc_id", "text")
        pairs = near_duplicates(d1, id_col="doc_id", text_col="text")
        d2 = d1.join(pairs.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti")
        d3 = gopher_repetition_gate(d2, "text").filter("keep")
        return d1, pairs, d3, pack_documents(d3, gen.CURATE_PACK_BUDGET, "text", "doc_id")

    counter = JobCounter(spark)
    steps: list[dict] = []

    def chain(name):
        with tr.span(name) as s:
            with tr.span("storage.read"):
                docs = store.read("documents")
            packed = stages(docs)[3]
            with tr.span("storage.write"):
                store.write("packed", packed)
        steps.append({"wall": s["end"] - s["start"], **counter.take()})

    t_begin = time.time()
    while not steps or time.time() - t_begin < seconds:
        chain("curate.chain")

    # check: kept doc ids and pack offsets against the pure-Python reference
    docs_in = {r.doc_id: r.text for r in store.read("documents").select("doc_id", "text").collect()}
    packed = {
        r.doc_id: (r.n_tokens, r.start_tok, r.first_pack, r.last_pack)
        for r in store.read("packed").collect()
    }
    expected = checks.curate_reference(docs_in, gen.CURATE_PACK_BUDGET)
    attempted, failed = checks.curate_check(docs_in, packed, expected)

    walls = [s["wall"] for s in steps]
    packed_paths = [p.removeprefix("file://") for p in store.read("packed").inputFiles()]
    packed_files = len(packed_paths)
    packed_bytes = sum(os.path.getsize(p) for p in packed_paths)
    out = Outcome(
        items=n_docs, item_unit="docs", items_per_s=n_docs / median(walls),
        step_walls=walls, step_name="curate.chain", step_counts=steps,
        attempted=attempted, failed=failed,
    )
    out.counts = {
        "docs": n_docs,
        "kept": len(packed),
        "exact_survivors": expected["exact_survivors"],
        "verified_pairs": expected["verified_pairs"],
        "packed_bytes": packed_bytes,
        "snapshots": {os.path.relpath(d, store.base): {"rows": e["rows"], "bytes": e["bytes"]}
                      for d, e in sorted(store.manifest["lineage"].items())},
        "spark_jobs_per_chain": sorted({s["jobs"] for s in steps}),
        "spark_stages_per_chain": sorted({s["stages"] for s in steps}),
    }
    out.named = {
        "curate_docs_per_s": (out.items_per_s, "docs/s"),
        "curate_chain_p50_s": (median(walls), "s"),
        "curate_chain_samples": (len(walls), "count"),
        "curate_first_chain_s": (walls[0], "s"),
    }
    out.layer = {"storage.read_s": (median(tr.durations("storage.read")), "s"),
                 "storage.write_s": (median(tr.durations("storage.write")), "s")}
    out.layer_counts = {
        "storage.files_written": packed_files,
        "storage.bytes_written": packed_bytes,
        "dedup.verified_pairs": expected["verified_pairs"],
        "repetition.dropped_docs": expected["gate_dropped"],
    }
    if env.trace:
        cached: list[DataFrame] = []
        with tr.span("replay"):
            d3, layer = _curation_replay(tr, store, cached)
            pk = pack_documents(d3, gen.CURATE_PACK_BUDGET, "text", "doc_id").persist()
            cached.append(pk)
            pack_s = _timed(tr, "packing.pack", pk.count)
        for df in cached:
            df.unpersist()
        out.layer.update(layer)
        out.layer["storage.read_s"] = layer["storage.read_scan_s"]
        out.layer["packing.pack_s"] = (pack_s, "s")
        out.layer_counts["dedup.candidate_pairs"] = layer["dedup.candidate_pairs"][0]
    return out


def _curation_replay(tr: Tracer, store, cached: list) -> tuple[DataFrame, dict]:
    """Traced runs only: read the stored ``documents`` and run exact dedup,
    near duplicates and the Gopher gate, each materialized in turn so its own
    time shows. Returns the kept documents (persisted; every persisted frame
    is added to ``cached``) and the layer metrics."""
    from anycrawl_spark.functions.repetition import gopher_repetition_gate
    from anycrawl_spark.operators.dedup import (
        exact_dedup, lsh_candidate_pairs, near_duplicates,
    )

    def keep(df):
        df = df.persist()
        cached.append(df)
        return df

    docs = keep(store.read("documents"))
    read_s = _timed(tr, "storage.read_scan", docs.count)
    d1 = keep(exact_dedup(docs, "doc_id", "text"))
    exact_s = _timed(tr, "dedup.exact", d1.count)
    pairs = keep(near_duplicates(d1, id_col="doc_id", text_col="text"))
    near_s = _timed(tr, "dedup.near_duplicates", pairs.count)
    n_cand = lsh_candidate_pairs(d1, "doc_id", "text").count()
    d2 = d1.join(pairs.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti")
    d3 = keep(gopher_repetition_gate(d2, "text").filter("keep"))
    gate_s = _timed(tr, "repetition.gate", d3.count)
    return d3, {
        "storage.read_scan_s": (read_s, "s"),
        "dedup.exact_s": (exact_s, "s"),
        "dedup.near_dup_s": (near_s, "s"),
        "dedup.candidate_pairs": (n_cand, "count"),
        "dedup.verified_pair_ratio": (pairs.count() / max(n_cand, 1), "ratio"),
        "repetition.gate_s": (gate_s, "s"),
    }


WORKLOADS = {
    "crawl_deep": crawl_deep,
    "frontier_kernel": frontier_kernel,
    "curate_docs": curate_docs,
}
