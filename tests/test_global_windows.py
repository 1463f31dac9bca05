"""Plan gate: vocab top-k cuts must not run as a global (single-partition)
window. A `Window` with an empty partition spec pulls its whole input into
one task — fine at test scale, a plan cliff at corpus scale."""

from pyspark.sql import functions as F


def _global_windows(df) -> list[str]:
    """WindowExec nodes with no PARTITION BY in the planned (pre-AQE) tree."""
    found, stack = [], [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "WindowExec" and node.partitionSpec().isEmpty():
            found.append(node.toString())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return found


def _docs(spark):
    return spark.createDataFrame(
        [(i, "the cat sat on the mat " * (1 + i % 3)) for i in range(20)],
        "doc_id long, text string",
    )


def test_ngram_prune_has_no_global_window(spark):
    from ocr_spark.operators.ngram_lm import _prune

    counts = _docs(spark).select(F.explode(F.split("text", " ")).alias("w")).groupBy("w").count()
    pruned = _prune(counts.withColumnRenamed("count", "c"), ["w"], top_k=3, min_count=1)
    assert _global_windows(pruned) == []
    assert "TakeOrderedAndProject" in pruned._jdf.queryExecution().sparkPlan().toString()


def test_unigram_logprob_has_no_global_window(spark):
    from ocr_spark.operators.corpus_clean import unigram_logprob

    assert _global_windows(unigram_logprob(_docs(spark), top_vocab=3)) == []
