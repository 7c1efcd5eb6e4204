"""Crawl pre-text stage algebra, shared by batch, incremental and
ingest paths.

The registered crawl queries (``queries.url_dedup_canonical``,
``queries.host_boilerplate_census``) and the streaming ingest readers
(``streaming.sinks.read_url_dedup_canonical`` /
``read_host_boilerplate_census``) assemble from ONE mergeable per-URL
partial: ``(url_norm, n_docs_u, chars_u, min_doc_id)``. Counts and
char sums are additive and the survivor id folds by MIN, so per-batch
partials folded by (sum, sum, min) equal one pass over the union —
the same property the token-drift ingest twin rests on
(operators/drift.py), making batch/ingest parity structural, not
coincidental.

``incremental_url_dedup`` is the delta path: every new crawl dump is
URL-deduped against the STAGED canonical-URL index before any text is
read, with only delta-sized exchanges — the 100 TB index is probed
with the broadcast delta URL set and never reshuffled (the
operators/dedup.py incremental discipline).

Scale: the partial is URL-cardinality and narrow — no text column
ever enters this stage, which is the entire point of URL-dedup-first.
Cited against the reference's enrichment/normalization map stage
(IpToLocation.java:24-38) and keyed two-level folds
(WordCount.java:80-91).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_examples_spark.functions.url import (
    normalize_url,
    synthetic_crawl_url,
    url_host,
)


def _url_norm(docs: DataFrame, id_col: str, source_col: str,
              url: Column | str | None) -> Column:
    """Canonical URL column: the caller's crawl-metadata URL when one
    exists, else the deterministic synthetic URL space the testdata
    documents table uses (functions/url.py module doc)."""
    if url is not None:
        return normalize_url(url)
    return normalize_url(synthetic_crawl_url(id_col, source_col))


def with_doc_host(docs: DataFrame) -> DataFrame:
    """``(doc_id, host, text)`` projection with the host derived once
    per DOC from the synthetic URL chain — the projection-collapse
    discipline the host-scoped line-dedup queries and the scale canary
    all share (computed below any Generate, the md5+regex chain runs
    per doc, never per exploded line; PERF_NOTES_r8/r9). ONE body so
    the discipline can't drift between call sites (r10 review)."""
    return docs.select(
        "doc_id",
        url_host(
            normalize_url(synthetic_crawl_url("doc_id", "source"))
        ).alias("host"),
        "text",
    )


def url_keep_verdicts(u: DataFrame) -> DataFrame:
    """Duplicated-URL keep verdicts ``(url_norm, _keep_id)`` over a
    ``(doc_id, url_norm, ...)`` frame: one row per URL with >= 2 docs,
    carrying the min-doc_id survivor. The verdict table a keep filter
    LEFT-joins (kept = ``_keep_id IS NULL OR doc_id = _keep_id``) —
    only duplicated URLs enter it (the _keep_first_verdicts de-skew
    discipline: map-side-combined min before the exchange,
    broadcastable rejoin). ONE body shared by ``queries.url_dedup_keep``
    and ``queries.crawl_pretext_pipeline`` so their keep semantics
    cannot drift (r10 review)."""
    return (
        u.groupBy("url_norm")
        .agg(
            F.min("doc_id").alias("_keep_id"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") >= 2)
        .drop("_n")
    )


def url_dedup_index(docs: DataFrame) -> DataFrame:
    """Canonical-URL index ``(url_norm, n_docs, keep_doc_id)`` over a
    corpus, singletons INCLUDED — the staged artifact
    [[incremental_url_dedup]] probes (a delta URL matching ONE corpus
    doc creates a brand-new duplicate group of two, so the index must
    keep singletons; the batch dedup view is this with ``n_docs >= 2``).
    One narrow (doc_id, url) projection + one map-side-combined
    url-keyed fold; the url chain (md5 + regexes) evaluates once per
    row as the grouping key (the projection-collapse guard,
    PERF_NOTES_r8/r9)."""
    return (
        docs.select(
            F.col("doc_id").alias("doc_id"),
            normalize_url(synthetic_crawl_url("doc_id", "source"))
            .alias("url_norm"),
        )
        .groupBy("url_norm")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def incremental_url_dedup(index: DataFrame, delta: DataFrame) -> DataFrame:
    """Daily-dump twin of ``queries.url_dedup_canonical``: dedup a
    small delta crawl dump against the STAGED canonical-URL index.
    Output: the UPDATED duplicate groups among URLs the delta touches —
    ``(url_norm, n_docs, keep_doc_id)`` with combined counts and the
    min-doc_id survivor across corpus + delta (exactly what a batch
    re-run over the union would report for those URLs, the pinned
    parity) — so the index stays maintainable by upsert without ever
    re-scanning the corpus.

    ``index``: ``(url_norm, n_docs, keep_doc_id)`` incl. singletons
    ([[url_dedup_index]]); ``delta``: ``(doc_id, url_norm)`` rows.

    Shuffle discipline (the reason this exists): the index is probed
    with the BROADCAST delta URL set and the hit list (<= |delta URLs|)
    broadcasts back — the 100 TB index is never reshuffled; the only
    exchange is the delta-sized url fold. URL dedup is the stage that
    runs on EVERY new crawl dump, so its incremental form is the one a
    production pipeline actually executes daily."""
    dg = delta.groupBy("url_norm").agg(
        F.count(F.lit(1)).alias("_n_d"),
        F.min("doc_id").alias("_min_d"),
    )
    # the probe set is dg itself — already one row per url_norm after
    # the fold (and the identical exchange subtree lets ReuseExchange
    # compute it once). PRECONDITION: ``index`` holds ONE row per
    # url_norm, as url_dedup_index / read_url_partials produce — a
    # multi-snapshot index must be folded first (sum counts, min ids:
    # streaming.sinks.read_url_partials), since duplicate index rows
    # would multiply delta rows through the rejoin
    hits = (
        index.join(F.broadcast(dg.select("url_norm")), "url_norm")
        .select("url_norm", "n_docs", "keep_doc_id")
    )
    return (
        dg.join(F.broadcast(hits), "url_norm", "left")
        .select(
            "url_norm",
            (F.col("_n_d") + F.coalesce(F.col("n_docs"), F.lit(0)))
            .alias("n_docs"),
            F.least(
                F.col("_min_d"),
                F.coalesce(F.col("keep_doc_id"), F.col("_min_d")),
            ).alias("keep_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


def url_partials(
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    chars_col: str = "n_chars",
    url: Column | str | None = None,
) -> DataFrame:
    """Fold a document frame to the mergeable per-URL partial
    ``(url_norm, n_docs_u, chars_u, min_doc_id)`` — additive counts and
    char mass plus a min-foldable survivor id, so per-batch partials
    folded by (sum, sum, min) equal one pass over the union (the
    ingest property; see module doc)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.col(chars_col).alias("n_chars"),
            _url_norm(docs, id_col, source_col, url).alias("url_norm"),
        )
        .groupBy("url_norm")
        .agg(
            F.count(F.lit(1)).alias("n_docs_u"),
            F.sum("n_chars").alias("chars_u"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


def host_census_from_url_partials(per_url: DataFrame) -> DataFrame:
    """The host-census assembly of ``queries.host_boilerplate_census``
    over a ``(url_norm, n_docs_u, chars_u)`` per-URL table — ONE body
    shared by the batch query and the streaming ingest reader
    (``streaming.sinks.read_host_boilerplate_census``), so parity
    between the two paths is structural (the operators/drift.py
    convention). Host folds over ~#urls rows, which also subsumes the
    exact-distinct page count."""
    return (
        per_url.withColumn("host", url_host("url_norm"))
        .groupBy("host")
        .agg(
            F.sum("n_docs_u").alias("n_docs"),
            F.count(F.lit(1)).alias("n_pages"),
            F.expr(
                "((sum(n_docs_u) - count(1)) * 1000000) div sum(n_docs_u)"
            ).alias("dup_page_ppm"),
            F.expr("sum(chars_u) div sum(n_docs_u)").alias("chars_per_doc"),
        )
    )


def url_dedup_from_partials(per_url: DataFrame) -> DataFrame:
    """The duplicate-group assembly of ``queries.url_dedup_canonical``
    over a ``(url_norm, n_docs_u, min_doc_id)`` per-URL table — the
    ingest reader's view (``streaming.sinks.read_url_dedup_canonical``):
    groups of >= 2 with the min-doc_id survivor."""
    return (
        per_url.select(
            "url_norm",
            F.col("n_docs_u").alias("n_docs"),
            F.col("min_doc_id").alias("keep_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


def incremental_url_keep(url_index: DataFrame, delta: DataFrame) -> DataFrame:
    """Per-document KEEP verdicts for a delta dump against the staged
    canonical-URL index — the apply face of [[incremental_url_dedup]]
    (which reports the updated GROUPS for index upsert; a pipeline
    filters on verdicts). EPOCH rule, not union-min: an already-shipped
    corpus document is immutable, so ANY corpus hit drops the delta doc
    regardless of doc_id order (``incremental_url_dedup``'s min-id
    survivor is the right value to UPSERT into the index for future
    dumps, but it cannot un-ship the corpus copy); among delta docs of
    a corpus-unseen URL, min doc_id wins — together: keep iff the URL
    has no corpus doc AND doc_id is the delta group's min.

    ``url_index``: one row per corpus canonical URL, singletons
    included ([[url_dedup_index]] / ``streaming.sinks.read_url_
    partials``); ``delta``: ``(doc_id, url_norm, ...)`` rows.

    Shuffle discipline (the [[incremental_url_dedup]] shape): ONE
    delta-sized url fold; the index is probed with the BROADCAST delta
    URL set and the hit flags broadcast back — the 100 TB index is
    never reshuffled. Output: the delta frame plus a ``kept`` flag.

    A NULL ``url_norm`` (unparseable/missing crawl URL) is NO
    evidence, not a duplicate group: such docs are kept and pass to
    the later stages untouched — grouping NULLs would wrongly collapse
    every url-less doc into one survivor, and the pre-r12 inner
    rejoin silently DROPPED them (round-scope review r12). The
    synthetic fixtures never produce NULL urls, so the registered
    oracles are unaffected."""
    dg = (
        delta.filter(F.col("url_norm").isNotNull())
        .groupBy("url_norm")
        .agg(F.min("doc_id").alias("_min_d"))
    )
    hits = (
        url_index.join(F.broadcast(dg.select("url_norm")), "url_norm")
        .select("url_norm")
        .withColumn("_in_corpus", F.lit(1))
    )
    verd = dg.join(F.broadcast(hits), "url_norm", "left")
    return delta.join(F.broadcast(verd), "url_norm", "left").select(
        *delta.columns,
        F.when(F.col("url_norm").isNull(), F.lit(True))
        .otherwise(
            F.col("_in_corpus").isNull()
            & (F.col("doc_id") == F.col("_min_d"))
        )
        .alias("kept"),
    )


def incremental_hygiene_pipeline(
    url_index: DataFrame,
    line_index: DataFrame,
    corpus_fps: DataFrame,
    delta: DataFrame,
    raw_col: Column | None = None,
    min_count: int = 3,
    with_kept_text: bool = False,
) -> DataFrame:
    """The composed DAILY-DELTA hygiene job (VERDICT r11 next-round #1):
    what a 100 TB deployment actually runs nightly, as ONE plan over
    ONE delta dump — every stage the incremental face of its batch
    twin, probing staged indexes, never touching the shipped corpus:

      1. URL dedup ([[incremental_url_keep]] vs the staged canonical-
         URL index — the cheapest cut first; re-crawls die before any
         text is read),
      2. host-scoped line strip (``operators.dedup.incremental_host_
         line_strip`` vs the staged (host, lfp, n_occ) index — corpus +
         within-delta occurrences reaching ``min_count`` strike the
         line),
      3. exact dedup on the REWRITTEN text (the hygiene-v2 stage order:
         the strip canonicalizes boilerplate-wrapped near-dups into
         byte-equal docs, which fingerprint dedup then collapses
         against the staged corpus-fp set and within the delta),
      4. PII scrub-apply (``functions.pii`` ordered redaction chain)
         over the surviving rewritten text.

    Inputs: ``url_index`` — one row per corpus canonical URL incl.
    singletons; ``line_index`` — ``(host, lfp, n_occ)`` over corpus
    STAGE-1 SURVIVORS (boilerplate is counted on what was kept, not on
    re-crawl duplicates); ``corpus_fps`` — ``(fp)`` DISTINCT md5s of
    corpus survivors' nonempty stripped text, stripped under the same
    staged counts (ship-time state — the immutability asymmetry:
    corpus docs stay as shipped even where the delta newly crosses a
    threshold); ``delta`` — ``(doc_id, url_norm, host, text)``;
    ``raw_col`` — optional expression over (doc_id, text) rewriting
    the scrub input (the registered query synthesizes contact lines
    with it; a real corpus scrubs ``kept_text`` directly).

    Shuffle discipline: every exchange is DELTA-sized (url fold,
    (host,lfp) fold, doc_id reassembly, fp fold); each staged index is
    probed with a broadcast delta key set and the hits broadcast back
    — three probe/rejoin families, zero corpus-sized exchanges; the
    delta's text is scanned ONCE (the line explode) and rewritten
    in-flight. Plan-pinned in tests/test_plans.py.

    Output: ``(doc_id, host, n_lines, n_removed, removed_chars,
    n_redacted, scrubbed)`` — the kept, rewritten, scrubbed documents
    with their strip/redaction accounting. ``with_kept_text=True``
    appends the pre-scrub ``kept_text`` column — the stage the staged
    indexes fingerprint and count, which the index-maintenance face
    (``streaming.sinks.hygiene_delta_ingest_foreach_batch``) upserts
    from; the default output (and the registered query's plan) is
    unchanged.
    """
    _, _, _, final = incremental_hygiene_stages(
        url_index, line_index, corpus_fps, delta,
        raw_col=raw_col, min_count=min_count,
        with_kept_text=with_kept_text,
    )
    return final


def incremental_hygiene_stages(
    url_index: DataFrame,
    line_index: DataFrame,
    corpus_fps: DataFrame,
    delta: DataFrame,
    raw_col: Column | None = None,
    min_count: int = 3,
    with_kept_text: bool = False,
):
    """The [[incremental_hygiene_pipeline]] stage chain, exposed:
    returns ``(verdicts, stripped, surv3, final)`` — per-doc URL keep
    verdicts over the whole delta, the stripped stage-1 survivors, the
    post-exact-dedup survivors, and the scrubbed output. ONE body (the
    ``queries._hygiene_v2_stages`` convention): the pipeline query and
    the per-stage funnel census read the same chain, so the funnel can
    never drift from the pipeline."""
    from flink_examples_spark.functions.pii import pii_counts, pii_scrub
    from flink_examples_spark.operators.dedup import (
        incremental_host_line_strip,
    )

    verdicts = incremental_url_keep(url_index, delta)
    surv1 = verdicts.filter(F.col("kept")).select(
        "doc_id", "host", "text"
    )
    stripped = incremental_host_line_strip(
        line_index, surv1, "doc_id", "host", "text", min_count=min_count
    )
    s = stripped.filter(F.length("kept_text") > 0).withColumn(
        "_fp", F.md5("kept_text")
    )
    dmins = s.groupBy("_fp").agg(F.min("doc_id").alias("_min_fp"))
    fhits = (
        corpus_fps.select(F.col("fp").alias("_fp"))
        .join(F.broadcast(dmins.select("_fp")), "_fp")
        .withColumn("_in_cfp", F.lit(1))
    )
    surv3 = (
        s.join(F.broadcast(dmins), "_fp")
        .join(F.broadcast(fhits), "_fp", "left")
        .filter(
            F.col("_in_cfp").isNull()
            & (F.col("doc_id") == F.col("_min_fp"))
        )
        .select(
            "doc_id", "host", "n_lines", "n_removed", "removed_chars",
            F.col("kept_text").alias("text"),
        )
    )
    raw = raw_col if raw_col is not None else F.col("text")
    step = surv3.select(
        "doc_id", "host", "n_lines", "n_removed", "removed_chars",
        *pii_counts(raw),
        pii_scrub(raw).alias("scrubbed"),
        *(["text"] if with_kept_text else []),
    )
    final = step.select(
        "doc_id", "host", "n_lines", "n_removed", "removed_chars",
        (F.col("n_email") + F.col("n_phone") + F.col("n_ipv4"))
        .alias("n_redacted"),
        "scrubbed",
        *([F.col("text").alias("kept_text")] if with_kept_text else []),
    )
    return verdicts, stripped, surv3, final
