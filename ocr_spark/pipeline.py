"""The flagship extraction pipeline (SURVEY.md §3.1 Spark restatement).

One linear plan for every option:

    read spans table
      → native per-span text normalization (T1-T5, T7) inside the nested
        array — F.transform + CASE on kind; no explode, no shuffle, fully
        whole-stage-codegen'd
      → [span_chunk_threshold] slice giant docs into chunk rows
      → [media_sidecar] broadcast-join each row's media payloads
      → [salt_partitions] repartition on xxhash64(doc_id[, chunk])
      → ONE mapInArrow stage for the heavy kinds (html boilerplate strip,
        pdf XY-cut, ocr media kernels) that branches on kind INSIDE the UDF
        (J1 dispatch, ref ocr_workflow_orchestrator.py:272-294) — avoids one
        shuffle per kind
      → [span_chunk_threshold] re-merge chunks per doc
      → span-sequence reassembly (A6): array_sort by offset, per-row
      → output schema + error envelope; confidence (A2) from the stage's
        mergeable (conf_sum, conf_cnt) parts

Scale notes (north rule):
  * Every doc crosses the Arrow stage once; an all-text batch is a
    near-zero-cost columnar passthrough there, and the source is scanned
    once whatever the options.
  * Media-heavy skew (5% of docs carry 256-1024 media spans) is defeated by a
    salted repartition on xxhash64(doc_id) before the UDF stage — opt-in via
    `salt_partitions` since it IS a shuffle and only pays for itself when the
    UDF stage dominates. A single giant doc cannot be spread by salting; the
    span_chunk_threshold step splits it into rows that can.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ocr_spark.functions import text as TX

EXTRACTOR_NAME = "ocr_spark"


def _process_span(s: Column, rules: Sequence[tuple[str, str]]) -> Column:
    """Native (codegen) processing for text-bearing spans; heavy kinds pass
    through untouched for the Arrow stage."""
    new_text = F.when(s["kind"] == "text", TX.extract_text(s["text"], rules)).otherwise(
        s["text"]
    )
    return F.struct(
        s["kind"].alias("kind"),
        new_text.alias("text"),
        s["media_ref"].alias("media_ref"),
        s["offset"].alias("offset"),
    )


def _sort_spans(col: Column) -> Column:
    """A6 span-sequence order: stable sort by offset (W2) without exploding."""
    return F.array_sort(
        col,
        lambda l, r: F.when(l["offset"] < r["offset"], F.lit(-1))
        .when(l["offset"] > r["offset"], F.lit(1))
        .otherwise(F.lit(0)),
    )


def _chunk(df: DataFrame, threshold: int) -> DataFrame:
    """Giant-doc escape hatch: salting spreads DOCS across partitions, but a
    single row cannot split — one doc with 10⁴ media spans would still
    straggle its task (SURVEY.md §7 'hard parts'). Slice every span array
    into ≤threshold chunks, one row each; a doc at or under the threshold
    (or empty) stays a single chunk-0 row."""
    n_chunks = F.greatest(F.lit(1), F.ceil(F.size("spans") / F.lit(threshold))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(F.col("spans"), i * threshold + 1, threshold),
    )
    return df.select("doc_id", F.posexplode(chunks).alias("chunk", "spans"))


def _merge_chunks(df: DataFrame) -> DataFrame:
    """Reassemble chunk rows per doc: spans in chunk order, the mergeable A2
    parts summed, error = first errored chunk (min by chunk index)."""
    first_err = F.min(
        F.when(
            F.col("error").isNotNull(),
            F.struct(F.col("chunk"), F.col("error"), F.col("error_source")),
        )
    ).alias("fe")
    return df.groupBy("doc_id").agg(
        F.flatten(F.array_sort(F.collect_list(F.struct("chunk", "spans")))["spans"]).alias(
            "spans"
        ),
        F.sum("conf_sum").alias("conf_sum"),
        F.sum("conf_cnt").alias("conf_cnt"),
        first_err,
    ).select("doc_id", "spans", "conf_sum", "conf_cnt", "fe.error", "fe.error_source")


def _attach_sidecar(df: DataFrame, sidecar: DataFrame, key: list[str]) -> DataFrame:
    """S1 binaryFile path (J3 broadcast sidecar join, ref
    ocr_workflow_orchestrator.py:153-178 restated for Spark): gather each
    doc's distinct media refs, broadcast-join the (media_ref, content)
    sidecar, and re-attach the payloads as one map column per `key` row
    (a doc, or a doc chunk).

    Scale shape: the refs frame carries only (doc_id, media_ref) — narrow.
    The sidecar side is broadcast (small dims case); a huge sidecar would
    swap to a bucketed shuffle join with the same plan shape. The group-back
    shuffles only rows that HAVE media spans, keyed by `key` — the same key
    the Arrow stage salts on, so AQE can co-locate the downstream join."""
    from ocr_spark.operators.dispatch import MEDIA_KINDS, MEDIA_SIDECAR_COL

    refs = df.select(
        *key,
        F.explode(
            F.array_distinct(
                F.transform(
                    F.filter(
                        "spans",
                        lambda s: s["kind"].isin(*MEDIA_KINDS)
                        & s["media_ref"].isNotNull(),
                    ),
                    lambda s: s["media_ref"],
                )
            )
        ).alias("media_ref"),
    )
    # a ref duplicated in the sidecar (overlapping globs, unioned frames)
    # would make map_from_entries throw 'Duplicate map key' and kill the
    # job; dedupe so it degrades to one payload per ref instead
    resolved = refs.join(
        F.broadcast(sidecar.dropDuplicates(["media_ref"])), "media_ref", "inner"
    )
    pay = resolved.groupBy(*key).agg(
        F.map_from_entries(F.collect_list(F.struct("media_ref", "content"))).alias(
            MEDIA_SIDECAR_COL
        )
    )
    return df.join(pay, key, "left")




def extract_documents(
    df: DataFrame,
    rules: Sequence[tuple[str, str]] = (),
    salt_partitions: int | None = None,
    span_chunk_threshold: int | None = None,
    media_engine: str = "local",
    media_sidecar: DataFrame | None = None,
) -> DataFrame:
    """Run the full extraction. Returns OUTPUT_SCHEMA-shaped DataFrame.

    media_sidecar: (media_ref, content) frame (sources.media.sidecar_df) for
    the production binaryFile path — broadcast-joined per doc (per chunk when
    chunking), payloads decoded inside the Arrow stage. Without it, media
    refs resolve to the synthetic fixture payloads (sources.media).

    rules: ordered literal replacement pairs (T5), applied to text-bearing
    output spans after whitespace canonicalization, exactly like the
    reference postprocessor.

    media_engine: a dispatch.MEDIA_ENGINES name — J1 selection of the
    media-kind engine (reference requested_engine_name analogue); an
    unknown name raises ValueError here, when the plan is built.

    span_chunk_threshold: giant-doc skew escape hatch — span arrays are
    sliced into chunks of at most this many spans that process as
    independent rows and re-merge per doc (see _chunk/_merge_chunks). Costs
    one groupBy shuffle; doc_id must be unique in the input.
    """
    from ocr_spark.operators.dispatch import apply_heavy_kinds

    rules = TX.validate_rules(rules)

    # native text-kind normalization inside the nested array
    out = df.withColumn("spans", F.transform("spans", lambda s: _process_span(s, rules)))
    key = ["doc_id"]
    if span_chunk_threshold:
        out = _chunk(out, span_chunk_threshold)
        key.append("chunk")
    if media_sidecar is not None:
        out = _attach_sidecar(out, media_sidecar, key)
    if salt_partitions:
        # defeat media-heavy doc skew: spread rows across partitions by
        # hashed key (uniform), independent of input file layout
        out = out.repartition(salt_partitions, F.xxhash64(*key))
    out = apply_heavy_kinds(out, rules, passthrough=tuple(key[1:]), media_engine=media_engine)
    if span_chunk_threshold:
        out = _merge_chunks(out)

    # A2: mean of valid (>0) media-span confidences, 0.0 if media spans exist
    # but none is valid, null if the doc has no media span
    cnt = F.col("conf_cnt")
    confidence = F.when(cnt > 0, F.col("conf_sum") / cnt).when(cnt.isNotNull(), F.lit(0.0))
    # reassembly: enforce span order per doc, attach extractor
    return out.select(
        "doc_id",
        _sort_spans(F.col("spans")).alias("spans"),
        confidence.alias("confidence"),
        F.lit(EXTRACTOR_NAME).alias("extractor"),
        "error",
        "error_source",
    )
