"""The benchmark's own tests: seeded generators repeat, and every output
check catches a planted defect. No Spark session is needed.

    python3 -m pytest perfbench/tests -q
"""

import copy

import pytest

from anycrawl_spark import synth
from anycrawl_spark.crawl.simulator import ReferenceSimulator
from anycrawl_spark.functions.htmlmd import extract_document
from perfbench import checks, gen


def test_crawl_spec_repeats_for_a_seed_and_moves_with_it():
    a, b = gen.crawl_deep_spec(3), gen.crawl_deep_spec(3)
    assert a.jobs == b.jobs
    assert gen.crawl_deep_spec(4).jobs != a.jobs
    assert len(a.jobs) == gen.DEEP_JOBS


def test_crawl_spec_runs_every_round_and_sizes_the_crawl():
    spec = gen.crawl_deep_spec(5)
    sim = ReferenceSimulator(spec.jobs, gen.DEEP_ROBOTS, gen.DEEP_PARAMS, web=gen.DEEP_WEB)
    sim.run()
    assert max(p["round"] for p in sim.progress_rows) == gen.DEEP_ROUNDS - 1
    lo, hi = gen.DEEP_PAGES_RANGE
    assert all(lo <= st.done <= hi and not st.finalized for st in sim.states.values())


def test_kernel_and_curate_specs_repeat_for_a_seed():
    assert gen.frontier_kernel_spec(7) == gen.frontier_kernel_spec(7)
    assert gen.frontier_kernel_spec(7).id_offset != gen.frontier_kernel_spec(8).id_offset
    a, b = gen.curate_docs_spec(7, 200), gen.curate_docs_spec(7, 200)
    assert (a.urls, a.rows, a.shares) == (b.urls, b.rows, b.shares)
    assert gen.curate_docs_spec(8, 200).rows != a.rows
    kinds = {v.split(":")[0] for _, _, v in a.rows}
    assert kinds == {"orig", "dup", "near", "rep"}


@pytest.fixture(scope="module")
def crawl_outputs():
    spec = gen.crawl_deep_spec(1)
    sim = ReferenceSimulator(spec.jobs, gen.DEEP_ROBOTS, gen.DEEP_PARAMS, web=gen.DEEP_WEB)
    sim.run()
    return {"seen": sim.seen_sets(), "discovery": sim.discovery(),
            "terminal": sim.terminal_status()}


def test_crawl_check_passes_identical_outputs(crawl_outputs):
    attempted, failed = checks.crawl_check(crawl_outputs, crawl_outputs)
    assert attempted > 1000 and failed == 0


def _planted(outputs, plant):
    engine = copy.deepcopy(outputs)
    job = sorted(engine["terminal"])[0]
    url = sorted(engine["terminal"][job])[0]
    plant(engine, job, url)
    return engine


@pytest.mark.parametrize("plant", [
    lambda e, j, u: (e["seen"][j].discard(u), e["discovery"][j].pop(u), e["terminal"][j].pop(u)),
    lambda e, j, u: e["discovery"][j].__setitem__(u, (e["discovery"][j][u][0], -1)),
    lambda e, j, u: e["terminal"][j].__setitem__(u, "skipped"),
    lambda e, j, u: e["seen"][j].add("http://planted.example.com/p/1"),
], ids=["url-dropped", "seq-changed", "status-changed", "url-added"])
def test_crawl_check_catches_a_planted_defect(crawl_outputs, plant):
    attempted, failed = checks.crawl_check(_planted(crawl_outputs, plant), crawl_outputs)
    assert failed == 1 and failed / attempted > 0


def test_row_check_counts_a_planted_duplicate_or_loss():
    want = [11, 12, 13, 14]
    assert checks.multiset_diff([14, 13, 12, 11], want) == 0
    assert checks.multiset_diff(want + [12], want) == 1       # a row emitted twice
    assert checks.multiset_diff([11, 12, 13, 13], want) == 2  # one row for another
    assert checks.multiset_diff(want[:-1], want) == 1         # a row dropped


@pytest.fixture(scope="module")
def curate_docs():
    spec = gen.curate_docs_spec(2, 150)
    md = {i: extract_document(synth.page_html(u, gen.CURATE_WEB), u)["markdown"]
          for i, u in enumerate(spec.urls)}
    docs = {}
    for doc_id, i, variant in spec.rows:
        text = md[i]
        if variant == "rep":
            text = " ".join([text] * 3)
        elif variant.startswith("near:"):
            text = f"{text} {variant[5:]}"
        docs[doc_id] = text
    return docs, checks.curate_reference(docs, 512)


def test_curate_reference_drops_planted_duplicates(curate_docs):
    docs, expected = curate_docs
    assert 0 < len(expected["packed"]) < expected["exact_survivors"] < len(docs)
    assert expected["verified_pairs"] > 0 and expected["gate_dropped"] > 0


def test_curate_check_catches_a_planted_defect(curate_docs):
    docs, expected = curate_docs
    good = dict(expected["packed"])
    assert checks.curate_check(docs, good, expected) == (len(docs), 0)
    first = sorted(good)[0]
    dropped = {d: v for d, v in good.items() if d != first}
    shifted = {d: (n, s + 1, f, l) for d, (n, s, f, l) in good.items()}
    assert checks.curate_check(docs, dropped, expected)[1] == 1
    assert checks.curate_check(docs, shifted, expected)[1] == len(good)


def test_kept_check_catches_a_planted_defect(curate_docs):
    docs, expected = curate_docs
    kept = set(expected["packed"])
    assert checks.kept_check(docs, kept, expected) == (len(docs), 0)
    dropped = set(docs) - kept
    assert checks.kept_check(docs, kept - {sorted(kept)[0]}, expected)[1] == 1
    assert checks.kept_check(docs, kept | {sorted(dropped)[0]}, expected)[1] == 1


def test_reference_prefix_sum_matches_token_counts():
    docs = {
        "b": "one two  three four five six seven eight nine ten eleven twelve",
        "a": " alpha beta\tgamma delta epsilon zeta eta theta iota kappa ",
        "c": "",
    }
    packed = checks.curate_reference(docs, 4)["packed"]
    assert packed == {"a": (10, 0, 0, 2), "b": (12, 10, 2, 5), "c": (0, 22, None, None)}
