"""Seeded input generators (the load generator, never timed).

Every generator is a pure function of the seed: the same seed gives the same
jobs, tables and documents. The program under test receives only what these
functions return. The Spark-side functions turn a spec into DataFrames.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

from anycrawl_spark import synth
from anycrawl_spark.crawl.params import CrawlParams
from anycrawl_spark.crawl.simulator import ReferenceSimulator
from anycrawl_spark.functions.urls import canonicalize_url

# --------------------------------------------------------------- crawl_deep

#: 400-host synthetic web with 25% cross-host links; the 4 mega hosts are
#: reachable by links but never used as seeds.
DEEP_WEB = synth.WebConfig(
    n_hosts=400, mega_hosts=4, mega_pages=600, max_pages=120, cross_host_frac_pct=25
)
DEEP_ROBOTS = synth.robots_rules(DEEP_WEB)
DEEP_JOBS = 8
#: The crawl is cut after round 3 (``max_rounds``); no job reaches its limit
#: by then. A page links to 2-10 others, so a job's rounds grow about
#: fourfold each, and the last round carries most of the pages. Each round
#: costs seconds of fixed Spark work, so more rounds would not fit a run.
DEEP_ROUNDS = 4
DEEP_LIMIT = 20_000
#: pages a job, crawled alone, brings to a terminal state in DEEP_ROUNDS
#: rounds; seed hosts outside this range are skipped, so every seed gives a
#: crawl of about the same size
DEEP_PAGES_RANGE = (200, 300)
DEEP_RESUME_AFTER = 1       # engine discarded after round 1 commits
DEEP_REPLAY_ROUND = DEEP_ROUNDS - 1  # traced runs replay the largest round
DEEP_PARAMS = CrawlParams(default_host_tokens=200, max_rounds=DEEP_ROUNDS)


@dataclass
class CrawlSpec:
    seed: int
    jobs: list[dict]


def _job(job_id: str, host: str) -> dict:
    return {
        "job_id": job_id,
        "seed_url": f"http://{host}/p/0",
        "engine": "cheerio",
        "strategy": "all",
        # never binds (round r reaches depth r at most), so the last round's
        # links are gated, deduplicated and enqueued like any other round's
        "max_depth": DEEP_ROUNDS,
        "limit": DEEP_LIMIT,
        "include_paths": [],
        "exclude_paths": [],
        "scrape_paths": [],
        "status": "running",
    }


def _pages_alone(job: dict) -> int:
    """Pages this job, crawled alone, brings to a terminal state. Jobs never
    interact, so a job set's crawl is the sum of its jobs' crawls."""
    sim = ReferenceSimulator([job], DEEP_ROBOTS, DEEP_PARAMS, web=DEEP_WEB)
    sim.run()
    return sum(st.done for st in sim.states.values())


def crawl_deep_spec(seed: int) -> CrawlSpec:
    """The seed picks each job's seed host."""
    rng = random.Random(f"crawl_deep/{seed}")
    hosts = list(range(DEEP_WEB.mega_hosts, DEEP_WEB.n_hosts))
    rng.shuffle(hosts)
    jobs: list[dict] = []
    lo, hi = DEEP_PAGES_RANGE
    for h in hosts:
        if len(jobs) == DEEP_JOBS:
            break
        job = _job(f"deep-{len(jobs):02d}", synth.host_name(h, DEEP_WEB))
        if lo <= _pages_alone(job) <= hi:
            jobs.append(job)
    if len(jobs) < DEEP_JOBS:
        raise RuntimeError(f"seed {seed}: only {len(jobs)} usable seed hosts")
    return CrawlSpec(seed, jobs)


# ---------------------------------------------------------- frontier_kernel

KERNEL_PENDING = 300_000
KERNEL_CANDIDATES = 300_000
KERNEL_SEEN = 150_000
KERNEL_URLS = KERNEL_PENDING + KERNEL_CANDIDATES
KERNEL_JOBS = 32
KERNEL_HOSTS = 500
KERNEL_BUCKETS = 64
KERNEL_HOT_HOST_TOKENS = 20     # the 3 hot hosts' politeness cap per round
KERNEL_HOST_TOKENS = 100_000    # every other host: effectively uncapped
KERNEL_BUDGET = 1_000_000       # per-job budget: effectively uncapped


@dataclass
class KernelSpec:
    seed: int
    id_offset: int


def frontier_kernel_spec(seed: int) -> KernelSpec:
    """The seed picks the id offset, which moves every host, job and hash."""
    rng = random.Random(f"frontier_kernel/{seed}")
    return KernelSpec(seed=seed, id_offset=rng.randrange(1 << 40))


def frontier_tables(spark, spec: KernelSpec):
    """Pending, candidate and seen tables, generated in the JVM.

    About 20% of rows sit on 3 hot hosts. Candidate ``c`` collides with a
    seen key exactly when ``c`` is even and below ``2 * KERNEL_SEEN``."""
    from pyspark.sql import functions as F

    off = F.lit(spec.id_offset)

    def host(idcol):
        return F.when(
            F.pmod(idcol, 10) < 2, F.concat(F.lit("hot"), F.pmod(idcol, 3).cast("string"))
        ).otherwise(F.concat(F.lit("host"), F.pmod(idcol, KERNEL_HOSTS).cast("string")))

    def job(idcol):
        return F.concat(F.lit("job-"), F.pmod(idcol, KERNEL_JOBS).cast("string"))

    p = F.col("id") + off
    pending = spark.range(KERNEL_PENDING).select(
        job(p).alias("job_id"),
        F.concat(F.lit("http://"), host(p), F.lit("/p/"), p.cast("string")).alias("url"),
        F.xxhash64(p.cast("string")).alias("url_hash"),
        host(p).alias("host"),
        F.pmod(p, 6).cast("int").alias("depth"),
        F.col("id").alias("discovery_seq"),
        F.lit("pending").alias("status"),
        F.lit(0).alias("attempt"),
        F.lit(0).alias("next_eligible_round"),
    )
    c = F.col("id") + off
    candidates = spark.range(KERNEL_CANDIDATES).select(
        job(F.col("id")).alias("job_id"),
        F.concat(F.lit("http://"), host(c * 7), F.lit("/c/"), c.cast("string")).alias("url"),
        F.xxhash64(c.cast("string"), F.lit("c")).alias("url_hash"),
        host(c * 7).alias("host"),
        (F.pmod(c, 6) + 1).cast("int").alias("depth"),
        F.pmod(c, 1000).alias("parent_depth"),
        F.col("id").alias("parent_seq"),  # unique, so discovery_seq is too
        F.pmod(c, 40).cast("int").alias("ordinal"),
    )
    s2 = F.col("id") * 2
    seen = spark.range(KERNEL_SEEN).select(
        job(s2).alias("job_id"),
        F.xxhash64((s2 + off).cast("string"), F.lit("c")).alias("url_hash"),
    )
    return pending, candidates, seen


# -------------------------------------------------------------- curate_docs

CURATE_WEB = synth.WebConfig(n_hosts=400, mega_hosts=4, mega_pages=600, max_pages=120)
CURATE_UNIQUE = 4800
CURATE_PACK_BUDGET = 2048
CRAWL_CURATE_UNIQUE = 1200  # the curation replay of a traced crawl_deep run


@dataclass
class CurateSpec:
    seed: int
    urls: list[str]
    #: (doc_id, url index, variant); variant is "orig", "dup", "rep" or
    #: "near:<suffix words>"
    rows: list[tuple[str, int, str]] = field(default_factory=list)
    shares: dict = field(default_factory=dict)


def curate_docs_spec(seed: int, n_unique: int = CURATE_UNIQUE) -> CurateSpec:
    """A sample of fetchable pages plus exact duplicates (same URL again),
    near duplicates (a mutated copy: a few words appended) and repetitive
    copies (the page text three times over, which the Gopher gate drops).
    The seed picks the sample, the shares and the mutations."""
    rng = random.Random(f"curate_docs/{seed}")
    shares = {
        "dup": rng.uniform(0.08, 0.12),
        "near": rng.uniform(0.08, 0.12),
        "rep": rng.uniform(0.03, 0.06),
    }
    urls: list[str] = []
    picked: set[str] = set()
    while len(urls) < n_unique:
        host = synth.host_name(rng.randrange(CURATE_WEB.n_hosts), CURATE_WEB)
        url = canonicalize_url(
            synth.page_url(host, rng.randrange(synth.host_pages(host, CURATE_WEB)))
        )
        if url in picked or synth.page_status(url) != 200:
            continue
        picked.add(url)
        urls.append(url)
    variants = [(i, "orig") for i in range(n_unique)]
    for kind in ("dup", "near", "rep"):
        for i in rng.sample(range(n_unique), round(shares[kind] * n_unique)):
            if kind == "near":
                words = " ".join(rng.choice(synth._LOREM) for _ in range(3))
                variants.append((i, f"near:{words}"))
            else:
                variants.append((i, kind))
    rng.shuffle(variants)
    rows = [(f"doc-{k:06d}", i, v) for k, (i, v) in enumerate(variants)]
    return CurateSpec(seed=seed, urls=urls, rows=rows, shares=shares)


def curate_documents(spark, spec: CurateSpec, partitions: int):
    """The documents table: ``fetch_extract`` over the unique URLs, joined
    back to the sample rows; ``text`` is the page markdown after the row's
    mutation and ``spans`` the interleaved spans."""
    from pyspark.sql import functions as F

    from anycrawl_spark.operators.spans import fetch_extract

    sched = spark.createDataFrame(
        [(u, i) for i, u in enumerate(spec.urls)], "url string, discovery_seq long"
    ).select(
        F.lit("curate").alias("job_id"),
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.lit("h").alias("host"),
        F.lit(0).alias("depth"),
        "discovery_seq",
        F.lit(0).cast("long").alias("parent_url_hash"),
        F.lit(0).alias("round_added"),
        F.lit(0).alias("attempt"),
        F.lit(0.0).alias("priority"),
    ).repartition(partitions)
    pages = fetch_extract(sched, CURATE_WEB).select(
        F.col("discovery_seq").alias("url_idx"), "url", "markdown", "spans"
    )
    rows = spark.createDataFrame(spec.rows, "doc_id string, url_idx long, variant string")
    md = F.col("markdown")
    text = (
        F.when(F.col("variant") == "rep", F.concat_ws(" ", md, md, md))
        .when(
            F.col("variant").startswith("near:"),
            F.concat(md, F.lit(" "), F.substring(F.col("variant"), 6, 1000)),
        )
        .otherwise(md)
    )
    return rows.join(pages, "url_idx").select(
        "doc_id", "url", text.alias("text"), "spans"
    )
