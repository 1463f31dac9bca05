"""Scale evidence for the HTML → Markdown extractor (html_markdown.py):
render a synthetic crawl of structured pages (heading, nav boilerplate,
paragraphs with emphasis + links, a nested list, a fenced code block, a
pipe table, a blockquote) through html_markdown_df.

Exactness assertions (bench contract): every page is the SAME 8-block
template parameterized by doc id, so the output shape is closed-form —
n_blocks == 8 for every doc, exactly 3 resolved links and 1 heading per
doc, and the nav boilerplate never leaks into the markdown.

Run: python bench.py --suite html_markdown [--scale 200000]
"""

from __future__ import annotations

import time

SCALE = 200_000


def run(n: int, cpus: int) -> dict:
    from pyspark.sql import functions as F

    from ocr_spark.operators.html_markdown import html_markdown_df
    from ocr_spark.session import get_spark

    spark = get_spark("bench_html_markdown", cpus=cpus)

    i = F.col("id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>t</title><script>var x=1;</script></head>"
              "<body><nav><a href='/home'>home</a> menu junk</nav>"
              "<h1>Doc "), i, F.lit("</h1>"),
        F.lit("<p>First para of doc "), i,
        F.lit(" with <b>bold</b> and <a href='a/"), i,
        F.lit("'>alpha</a>.</p>"),
        F.lit("<p>Second para <i>italic</i> "
              "<a href='b.html?q=1'>beta</a> text.</p>"),
        F.lit("<p>Third <code>inline()</code> and "
              "<a href='https://other.org/c'>gamma</a>.</p>"),
        F.lit("<ul><li>one<li>two<ul><li>deep</li></ul><li>three</ul>"),
        F.lit("<pre><code class='language-py'>def f():\n    return "), i,
        F.lit("\n</code></pre>"),
        F.lit("<table><tr><th>k</th><th>v</th></tr><tr><td>id</td><td>"), i,
        F.lit("</td></tr></table>"),
        F.lit("<blockquote><p>quoted "), i, F.lit("</p></blockquote>"),
        F.lit("<footer>copyright junk</footer></body></html>"),
    )
    docs = spark.range(n).select(
        i.alias("doc_id"),
        html.alias("text"),
        F.concat(F.lit("https://ex.com/d/"), i, F.lit("/page.html")).alias("url"),
    ).persist()
    docs.count()
    avg_len = docs.agg(F.avg(F.length("text"))).first()[0]

    t0 = time.time()
    out = html_markdown_df(docs, url_col="url")
    agg = out.agg(
        F.count("*").alias("rows"),
        F.sum("n_blocks").alias("blocks"),
        F.sum(
            F.size(F.split(F.col("markdown"), r"\]\(", -1)) - 1
        ).alias("links"),
        F.sum(
            F.when(F.col("markdown").startswith("# Doc "), 1).otherwise(0)
        ).alias("headed"),
        F.sum(
            F.when(
                F.col("markdown").contains("menu junk")
                | F.col("markdown").contains("copyright junk"),
                1,
            ).otherwise(0)
        ).alias("boiler_leaks"),
        F.sum(F.col("n_chars").cast("long")).alias("chars"),
    ).first()
    wall = round(time.time() - t0, 2)

    assert agg["rows"] == n, agg["rows"]
    assert agg["blocks"] == 8 * n, agg["blocks"]
    assert agg["links"] == 3 * n, agg["links"]
    assert agg["headed"] == n, agg["headed"]
    assert agg["boiler_leaks"] == 0, agg["boiler_leaks"]
    docs.unpersist()

    return {
        "avg_html_chars": round(avg_len, 1),
        "wall_s": wall,
        "docs_per_sec": round(n / wall),
        "md_chars_total": agg["chars"],
    }
