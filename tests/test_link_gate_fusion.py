"""The candidate gate fused into fetch/extract (operators/spans.py).

``fetch_extract(..., link_gate=gate.func)`` gates every extracted link in the
extraction pass itself and emits ``cand_links``. Here: equality with the
unfused plan (``posexplode(links)`` -> pandas-UDF gate -> kept rows), and
the crawl engine's guarantee that each extracted link is gated exactly once
per round."""

from pyspark.sql import functions as F

from anycrawl_spark import synth
from anycrawl_spark.crawl.superstep import CrawlEngine
from anycrawl_spark.functions.urls import url_host
from anycrawl_spark.operators.gates import make_candidate_gate
from anycrawl_spark.operators.spans import FETCHED_DOC, fetch_extract

_SCHED = (
    "job_id string, url string, url_hash long, host string, depth int, "
    "discovery_seq long, parent_url_hash long, round_added int, attempt int, "
    "priority double"
)


def _sched(spark, jobs, hosts, pages_per_host):
    rows = []
    for job in jobs:
        for h in hosts:
            for k in range(min(pages_per_host, synth.host_pages(h))):
                url = synth.page_url(h, k)
                rows.append((job["job_id"], url, 0, h, 1, len(rows), None, 0, 0, 0.0))
    return spark.createDataFrame(rows, _SCHED).withColumn("url_hash", F.xxhash64("url"))


def test_fused_gate_matches_posexplode_udf_plan(spark):
    hosts = [synth.host_name(i) for i in range(12)]
    rfc_host = hosts[3]
    jobs = [
        # exclude_paths turns on the current-URL quirk: a page's link to
        # itself is dropped, so the gate needs the parent URL
        dict(synth.seed_jobs(1)[0], job_id="excl", strategy="all",
             exclude_paths=["**/p/3"]),
        dict(synth.seed_jobs(1)[0], job_id="plain", strategy="all"),
        dict(synth.seed_jobs(1)[0], job_id="host",
             seed_url=f"http://{hosts[0]}/p/0", strategy="same-hostname"),
    ]
    prefix = {}
    for r in synth.robots_rules():
        if r["host"] != rfc_host:
            prefix.setdefault(r["host"], []).append((r["rule"], r["path_prefix"]))
    rfc = {rfc_host: [("disallow", "/p/*7$"), ("disallow", "/p/1"), ("allow", "/p/15")]}
    gate = make_candidate_gate(jobs, prefix, rfc)
    sched = _sched(spark, jobs, hosts, 20)

    fused = fetch_extract(sched, link_gate=gate.func)
    assert fused.schema.fields[:-1] == FETCHED_DOC.fields
    assert fetch_extract(sched).schema == FETCHED_DOC
    got = {
        (r.job_id, r.url): [(c.ordinal, c.url, c.host) for c in r.cand_links]
        for r in fused.filter(F.col("status_code") == 200).collect()
    }

    links = (
        fetch_extract(sched)
        .filter(F.col("status_code") == 200)
        .select("job_id", F.col("url").alias("parent_url"),
                F.posexplode("links").alias("ordinal", "url"))
        .withColumn("_g", gate(F.col("job_id"), F.col("url"), F.col("parent_url")))
        .withColumn("_g0", gate(F.col("job_id"), F.col("url"), F.lit(None).cast("string")))
        .collect()
    )
    want = {k: [] for k in got}
    for r in sorted(links, key=lambda r: (r.job_id, r.parent_url, r.ordinal)):
        if r._g.keep:
            want[(r.job_id, r.parent_url)].append((r.ordinal, r._g.url, r._g.host))
    assert got == want
    assert sum(map(len, got.values())) > 500

    # the cases the data must actually exercise
    quirk = [r for r in links if r._g0.keep and not r._g.keep]
    assert quirk and all(r.job_id == "excl" and r._g.url == r.parent_url for r in quirk)
    assert any(
        url_host(r._g.url) == rfc_host and not r._g.keep for r in links if r.job_id == "plain"
    )
    assert any(not r._g.keep for r in links if r.job_id == "host")


def test_engine_gates_each_link_once_per_round(spark, tmp_path):
    jobs = [dict(j, limit=60) for j in synth.seed_jobs(2)]
    jobs[1] = dict(jobs[1], exclude_paths=["**/p/9"])
    eng = CrawlEngine(spark, str(tmp_path / "once"), jobs, synth.robots_rules(),
                      num_buckets=4)
    calls = spark.sparkContext.accumulator(0)
    inner = eng._link_gate

    def counting_gate(job_id, url, parent_url):
        calls.add(len(url))
        return inner(job_id, url, parent_url)

    eng._link_gate = counting_gate
    eng.init_state()
    for rnd in range(3):
        eng.run_round(rnd)
    docs = eng.store.read_appends("documents")
    n_links = docs.agg(F.sum("n_links")).first()[0]
    assert n_links > 50
    assert calls.value == n_links
