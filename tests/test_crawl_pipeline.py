"""End-to-end crawl curation plan: WARC → robots → canonical frontier
dedup → extraction → link graph + PageRank, reconciled against the
fixture generator's constructive expectations."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from machine_readability_checker_spark.plans.crawl import crawl_curate
from machine_readability_checker_spark.sources.fixtures import (
    gen_crawl_warc_files,
)
from machine_readability_checker_spark.sources.warc import read_warc

N = 140


@pytest.fixture(scope="module")
def crawl_out(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("warcs")
    expected = gen_crawl_warc_files(str(d), N, per_file=60)
    records = read_warc(spark, str(d / "*.warc.gz"))
    out = crawl_curate(records, pr_iters=3, cores=8)
    # materialize each frame the tests read once: they run many actions
    # on these frames, and an unmaterialized frame re-runs the whole
    # crawl plan on every action
    read = ("pages", "spans", "graph", "ranks", "blocked", "dups")
    return expected, {name: out[name].localCheckpoint(eager=True) for name in read}


def test_counts_reconcile_with_generator(crawl_out):
    expected, out = crawl_out
    assert out["blocked"].count() == expected["blocked"]
    assert out["dups"].count() == expected["dups"]
    assert out["pages"].count() == expected["kept"]


def test_robots_blocks_private_but_not_carveout(crawl_out):
    _, out = crawl_out
    blocked_paths = [r.path for r in out["blocked"].collect()]
    assert blocked_paths and all(
        p.startswith("/private/") and not p.startswith("/private/open/")
        for p in blocked_paths
    )
    kept_paths = [r.path for r in out["pages"].collect()]
    assert any(p.startswith("/private/open/") for p in kept_paths)


def test_frontier_dedup_keeps_clean_variant(crawl_out):
    _, out = crawl_out
    # the messy duplicate (uppercase host + utm param) loses to the
    # clean record; canonical keys are unique in the kept table
    pages = out["pages"]
    assert pages.count() == pages.select("canonical_url").distinct().count()
    assert pages.filter(F.col("url").contains("utm_source")).count() == 0
    dup_urls = [r.url for r in out["dups"].collect()]
    assert dup_urls and all("utm_source=feed" in u for u in dup_urls)


def test_extraction_and_graph_shapes(crawl_out):
    _, out = crawl_out
    spans = out["spans"]
    assert spans.filter(F.col("metrics.parse_errors") > 0).count() == 0
    kinds = {
        r.kind
        for r in spans.select(F.explode("spans").alias("s"))
        .select(F.col("s.kind").alias("kind"))
        .distinct()
        .collect()
    }
    assert {"title", "main"} <= kinds
    # 2 outlinks per page (nofollow ad excluded), except the pages
    # whose two arithmetic targets coincide — (7i+3) ≡ (13i+5) mod 140
    # ⇔ i ≡ 23 (mod 70), i.e. i ∈ {23, 93} — whose distinct out-edges
    # collapse to 1 (graph_edges dedups)
    coincide = {i for i in range(N) if (7 * i + 3) % N == (13 * i + 5) % N}
    kept_ids = {
        int(r.doc_id.removeprefix("page-")) for r in out["pages"].collect()
    }
    want_edges = 2 * len(kept_ids) - len(coincide & kept_ids)
    assert out["graph"].count() == want_edges
    ranks = out["ranks"]
    assert ranks.count() == N
    mass = ranks.agg(F.sum("rank")).first()[0]
    assert math.isclose(mass, 1.0, rel_tol=1e-9)


def test_pages_carry_degree_and_rank(crawl_out):
    _, out = crawl_out
    pages = out["pages"]
    # every kept page emits 2 outlinks, deduped to 1 for the two
    # coincident-target pages (see test_extraction_and_graph_shapes)
    assert pages.filter(~F.col("out_degree").isin(1, 2)).count() == 0
    assert pages.filter(F.col("out_degree") == 1).count() <= 2
    assert pages.filter(F.col("rank").isNull()).count() == 0


def test_honor_canonical_collapses_declared_duplicates(spark):
    """Two pages at DIFFERENT URLs declaring the same rel=canonical
    collapse to one frontier entry with --honor-canonical; without it
    they stay distinct (URL-canonicalization alone can't see it)."""
    from machine_readability_checker_spark.sources.warc import WARC_SCHEMA

    def page(canon):
        c = (
            f'<link rel="canonical" href="{canon}">' if canon else ""
        )
        return (
            f"<html><head><title>t</title>{c}</head>"
            "<body><p>same article body prose</p>"
            '<a href="http://s.example/dst">out</a></body></html>'
        ).encode()

    rows = [
        ("d0", "http://s.example/article?page=1", "response", 200, None,
         "text/html", "utf-8", bytearray(page("http://s.example/article")),
         10, "f", None, None, None),
        ("d1", "http://s.example/article/amp", "response", 200, None,
         "text/html", "utf-8", bytearray(page("http://s.example/article")),
         10, "f", None, None, None),
        ("d2", "http://s.example/other", "response", 200, None,
         "text/html", "utf-8", bytearray(page(None)), 10, "f", None, None, None),
    ]
    records = spark.createDataFrame(rows, WARC_SCHEMA)

    plain = crawl_curate(records, pr_iters=1, cores=4)
    assert plain["pages"].count() == 3  # URLs all distinct

    honored = crawl_curate(
        records, pr_iters=1, cores=4, honor_canonical=True
    )
    pages = honored["pages"].collect()
    assert len(pages) == 2
    keys = {p.canonical_url for p in pages}
    assert keys == {"http://s.example/article", "http://s.example/other"}
    # deterministic winner: min doc_id of the declared-canonical pair
    kept_ids = {p.doc_id for p in pages}
    assert kept_ids == {"d0", "d2"}
    assert honored["dups"].count() == 1
    # degrees/ranks join on the GRAPH's node key (canonicalized fetched
    # url), so the canonical-declaring page keeps its graph stats even
    # though its frontier key is the declared canonical
    d0 = [p for p in pages if p.doc_id == "d0"][0]
    assert d0.out_degree == 1
    assert d0.rank is not None


def test_honor_noindex_drops_corpus_but_keeps_links(spark):
    """A noindex page leaves pages/spans but its outlinks still reach
    the graph (noindex is an indexing opt-out, not nofollow)."""
    from machine_readability_checker_spark.sources.warc import WARC_SCHEMA

    def page(robots, link):
        r = f'<meta name="robots" content="{robots}">' if robots else ""
        a = f'<a href="{link}">out</a>' if link else ""
        return (
            f"<html><head><title>t</title>{r}</head>"
            f"<body><p>body prose here</p>{a}</body></html>"
        ).encode()

    rows = [
        ("d0", "http://s.example/keep", "response", 200, None, "text/html",
         "utf-8", bytearray(page(None, "http://s.example/target")),
         10, "f", None, None, None),
        ("d1", "http://s.example/hidden", "response", 200, None, "text/html",
         "utf-8", bytearray(page("noindex", "http://s.example/secret-dst")),
         10, "f", None, None, None),
        # the HTTP-header form: clean HTML, X-Robots-Tag says noindex
        ("d2", "http://s.example/hdr-hidden", "response", 200, None,
         "text/html", "utf-8",
         bytearray(page(None, "http://s.example/hdr-dst")),
         10, "f", None, None, "googlebot: noindex, nofollow"),
    ]
    records = spark.createDataFrame(rows, WARC_SCHEMA)
    out = crawl_curate(
        records, pr_iters=1, cores=4, honor_noindex=True
    )
    assert {p.doc_id for p in out["pages"].collect()} == {"d0"}
    assert {r.doc_id for r in out["noindex"].collect()} == {"d1", "d2"}
    assert out["spans"].select("doc_id").distinct().count() == 1
    dsts = {e.dst for e in out["graph"].collect()}
    # noindex ≠ nofollow for the graph: both hidden pages' outlinks
    # still pass link juice
    assert "http://s.example/secret-dst" in dsts
    assert "http://s.example/hdr-dst" in dsts


def test_site_boilerplate_flags_template_footer(crawl_out):
    """Every domain's per-page template footer (identical on all of its
    kept pages) is discovered as that site's boilerplate; the unique
    per-page prose is never accused."""
    from machine_readability_checker_spark.operators.linededup import (
        site_boilerplate_lines,
    )
    from machine_readability_checker_spark.operators.render import (
        render_training_text,
    )

    _, out = crawl_out
    texts = render_training_text(out["spans"], style="lines").select(
        "doc_id", "text"
    )
    sited = texts.join(
        out["pages"].select("doc_id", "domain"), "doc_id"
    )
    bl = site_boilerplate_lines(sited, site_col="domain", min_frac=0.5)
    rows = bl.collect()
    footer_sites = {r.site for r in rows if " footer: subscribe" in r.line}
    multi_page_sites = {
        r.domain
        for r in sited.groupBy("domain")
        .agg(F.countDistinct("doc_id").alias("n"))
        .filter(F.col("n") >= 2)
        .collect()
    }
    assert footer_sites == multi_page_sites
    # the footer is on EVERY page of its site
    for r in rows:
        if " footer: subscribe" in r.line:
            assert r.n_pages == r.site_pages
    assert not any(r.line.startswith("Deterministic prose") for r in rows)
