"""Plan-regression tests: the physical properties that make these operators
scale are asserted, not assumed (SURVEY.md §4: what Catalyst must deliver)."""

from __future__ import annotations

import pytest

from fts_engine_spark.operators import dedup, search, similarity
from fts_engine_spark.plans.review import assert_plan, assert_plan_absent
from fts_engine_spark.query import FtsIndex


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def test_postings_scan_pushdown(spark, small_index):
    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir)
    posts = fts.postings_for(["turtle", "hotel"])
    # the term-gate predicate must reach the parquet scan
    assert_plan(posts, "PushedFilters: [In(term", "Scan parquet")


def test_empty_term_list_decodes_nothing(spark, small_index):
    """An empty term list asks for no postings: no rows, and no Spark job
    (the pruner leaves an empty list's scan unfiltered, so the posting
    scan must not reach it)."""
    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir)
    rows = []
    jobs, _ = _jobs_launched(
        spark, lambda: rows.extend(fts.decoded_postings([]).collect())
    )
    assert rows == []
    assert jobs == 0


def test_relational_search_shape(spark, small_index):
    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir)
    df = fts.search_bm25("turtle hotel", k=10, mode="relational")
    # r6: query stats ride the decode kernel closure — the per-query plan
    # has NO join at all (each BroadcastExchange cost ~250-300 ms of
    # fixed serving latency), just scan -> decode -> aggregate -> top-k
    assert_plan(df, "MapInArrow", "TakeOrderedAndProject", "HashAggregate")
    assert_plan_absent(
        df, "SortMergeJoin", "CartesianProduct", "BroadcastExchange"
    )


def test_wand_shape(spark, small_index):
    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir)
    df = fts.search_bm25("turtle hotel", k=10, mode="wand")
    assert_plan(df, "FlatMapGroupsInPandas", "TakeOrderedAndProject")


def test_direct_search_partial_agg(spark, docs):
    df = search.postings_tf(docs)
    # map-side combine before the exchange; batched columnar scan
    assert_plan(df, "partial_count", "Batched: true")


def test_direct_bm25_broadcasts(spark, docs):
    df = search.search_bm25_direct(docs, ["table", "value"], 10)
    assert_plan(df, "BroadcastHashJoin", "TakeOrderedAndProject")
    assert_plan_absent(df, "CartesianProduct")


def test_column_pruning(spark, docs):
    df = search.doc_tokens(docs)
    # only doc_id + text may be read from a 5-column table
    assert_plan(df, "ReadSchema: struct<doc_id:bigint,text:string>")


def test_ann_bruteforce_broadcast(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = similarity.ann_bruteforce_topk(emb, [0, 1], 3)
    assert_plan(df, "BroadcastNestedLoopJoin")


def test_exact_dedup_partial_agg(spark, docs):
    df = dedup.exact_dedup(docs)
    assert_plan(df, "partial_min")


def test_ann_lsh_no_cartesian(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = similarity.ann_lsh_topk(emb, [0, 1, 2], 3, n_bands=4, band_bits=4)
    # candidate generation must be a (band, sig) hash join, never a cross
    assert_plan_absent(df, "CartesianProduct", "BroadcastNestedLoopJoin")


def test_srp_signatures_zero_shuffle(spark):
    """Signature computation is a narrow per-row projection (driver-side
    hyperplane literals + posexplode): NO exchange anywhere — the r2 plan
    shuffled n_bits x N rows through a groupBy(id, band)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sig = similarity.srp_band_signatures(emb, n_bands=8, band_bits=4)
    assert_plan_absent(sig, "Exchange", "HashAggregate")


def test_bucket_cap_windows_are_salted(spark):
    """The exact-cap window partitions by (band, sig, _salt), never by bare
    (band, sig) — a hot bucket is pre-thinned by the hash-threshold filter
    and then sorted only in salt-sized slices (VERDICT r2 wrong #4)."""
    import re

    from fts_engine_spark.plans.review import formatted_plan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sig = similarity.srp_band_signatures(emb, n_bands=2, band_bits=2)
    plan = formatted_plan(similarity._cap_buckets(sig, 8))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, f"no window in cap plan:\n{plan[:2000]}"
    for spec in specs:
        assert "_salt" in spec, f"unsalted window over: {spec}"


def test_ivf_fit_sample_bounds_seeding(spark):
    """With fit_frac < 1 the seeding top-K and Lloyd passes read the
    md5-threshold sample, not the full corpus: the hash filter sits in the
    plan and the seed is a TakeOrdered (no global Sort of all vectors)."""
    from fts_engine_spark.plans.review import formatted_plan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = similarity.ivf_centroids(emb, 8, 1, fit_frac=0.5)
    plan = formatted_plan(cents)
    assert "conv(substring(md5(" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan


def test_embedding_dedup_lsh_no_cartesian(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = dedup.embedding_cosine_dups_lsh(emb, 0.42, n_bands=4, band_bits=4)
    assert_plan_absent(df, "CartesianProduct", "BroadcastNestedLoopJoin")


def test_jaccard_lsh_no_shingle_selfjoin(spark, docs):
    df = dedup.ngram_jaccard_pairs_lsh(docs, 3, 0.12)
    # the only self-join keys are (band, band_hash) / (doc_id, shingle):
    # no join keyed by shingle alone (the unbounded hot-shingle explosion)
    assert_plan_absent(df, "CartesianProduct")
    from fts_engine_spark.plans.review import formatted_plan

    plan = formatted_plan(df)
    import re

    for m in re.finditer(r"hashjoin \[([^\]]*)\]", plan, re.I):
        keys = m.group(1)
        if "shingle" in keys:
            assert "b_id" in keys or "doc_id" in keys, (
                f"shingle-only join: {keys}"
            )


def test_postings_parquet_has_term_bloom_filter(spark, small_index):
    """The postings files carry a parquet bloom filter on `term` — the
    reference's probabilistic-filter role (SURVEY.md §2.5,
    pkg/filter/bloom.go) at the storage layer. (The terms files carry
    none: their sorted files' min/max stats prune a lookup.)"""
    import glob
    import os

    index_dir, _ = small_index
    files = glob.glob(os.path.join(index_dir, "postings", "**", "*.parquet"),
                      recursive=True)
    assert files
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(f"file://{files[0]}")
    footer = jvm.org.apache.parquet.hadoop.ParquetFileReader.readFooter(conf, path)
    blocks = footer.getBlocks()
    assert blocks.size() > 0
    cols = blocks.get(0).getColumns()
    offsets = {
        str(cols.get(i).getPath()): cols.get(i).getBloomFilterOffset()
        for i in range(cols.size())
    }
    assert offsets.get("[term]", -1) > 0, f"no bloom filter on term: {offsets}"


def test_serving_plans_have_no_broadcast_exchange(spark, small_index):
    """r6 broadcast-tax fix: a BroadcastExchange costs ~250-300 ms of
    fixed per-query latency (driver collect + relation build + torrent
    blocks), so NO serving-path plan may contain one. Query-term
    restriction is an isin predicate on both tiers (string literals live
    in the codegen references array, not the generated source, so the old
    JIT-churn rationale for the semi-join did not apply), and per-term
    stats ride the decode-kernel closure. Warm plans still serve from the
    cache; cold plans still push the isin into the parquet scan."""
    from fts_engine_spark.plans.review import formatted_plan

    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir).warm()
    try:
        mult = {"turtle": 1, "hotel": 1}
        for df in (
            fts.postings_for(list(mult)),
            fts._decoded_with_stats(mult),
            fts._bm25_scored(mult),
            fts.search_bm25("turtle hotel", k=5, mode="relational"),
            fts.search_bm25("turtle hotel", k=5, mode="wand"),
        ):
            plan = formatted_plan(df)
            assert "BroadcastExchange" not in plan, plan
        assert "InMemoryTableScan" in formatted_plan(
            fts.postings_for(list(mult))
        )  # served from the warmed cache
        # cold mode pushes the isin literals into the parquet scan
        cold = FtsIndex(spark, index_dir)
        cold_plan = formatted_plan(cold.postings_for(list(mult)))
        assert "turtle" in cold_plan
        assert "BroadcastExchange" not in formatted_plan(
            cold.search_bm25("turtle hotel", k=5, mode="wand")
        )
    finally:
        fts._postings_df.unpersist()
        fts._terms_df.unpersist()


def test_tombstones_and_within_keep_wand_plan_shape(
    spark, small_index, tmp_path
):
    """Pending deletes and the `within` restriction filter ride BROADCAST
    VARIABLES into the WAND kernel, not plan nodes: the warm serving plan
    stays literally identical (zero exchanges, no extra joins) with and
    without them — the serving-floor story survives mutations."""
    import re
    import shutil

    from fts_engine_spark.mutate import delete_documents
    from fts_engine_spark.plans.review import formatted_plan

    index_dir, _ = small_index
    work = str(tmp_path / "ix")
    shutil.copytree(index_dir, work)

    def warm_wand_plan(d, **kw):
        fts = FtsIndex(spark, d).warm()
        try:
            df = fts.search_bm25("turtle hotel", k=5, **kw)
            plan = re.sub(r"#\d+L?", "#N", formatted_plan(df))
            return re.sub(r"plan_id=\d+", "plan_id=N", plan)
        finally:
            fts._postings_df.unpersist()
            if fts._terms_df is not None:
                fts._terms_df.unpersist()

    base = warm_wand_plan(work)
    url0 = spark.read.parquet(f"{work}/docs").select("url").first()["url"]
    delete_documents(spark, work, [url0])
    with_dead = warm_wand_plan(work)
    assert with_dead == base
    with_within = warm_wand_plan(work, within=[url0])
    assert with_within == base
    for plan in (base, with_dead, with_within):
        # Zero exchanges in the per-query plan: the only Exchange sits
        # inside the InMemoryRelation subtree (cache population, runs once
        # at warm()), never above the InMemoryTableScan that serves queries.
        tree = plan.split("\n\n", 1)[0]
        above_cache = tree.split("InMemoryRelation", 1)[0]
        assert "Exchange" not in above_cache, tree


def test_boolean_masks_keep_wand_plan_shape(spark, small_index):
    """MUST-group bitmasks travel in the kernel CLOSURE, not the plan:
    a boolean query's warm WAND plan is literally identical to the plain
    OR query's (zero exchanges above the cache scan, no extra joins)."""
    import re

    from fts_engine_spark.plans.review import formatted_plan

    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir).warm()
    try:
        def norm(df):
            plan = re.sub(r"#\d+L?", "#N", formatted_plan(df))
            return re.sub(r"plan_id=\d+", "plan_id=N", plan)

        base = norm(fts.search_bm25("turtle hotel french", k=5))
        boolq = norm(
            fts.search_boolean("+turtle +(hotel OR french)", k=5)
        )
        assert boolq == base
        above_cache = boolq.split("\n\n", 1)[0].split("InMemoryRelation", 1)[0]
        assert "Exchange" not in above_cache, boolq
    finally:
        fts._postings_df.unpersist()
        if fts._terms_df is not None:
            fts._terms_df.unpersist()


def test_build_postings_wave_plan_has_no_jvm_sort(spark, docs):
    """The r3 postings plan ships packed doc rows through ONE exchange into
    the encode kernel — the (shard, term, doc) sort lives inside the kernel
    (numpy lexsort), so the physical plan must contain NO JVM Sort node and
    exactly one shuffle."""
    import re

    from pyspark.sql import functions as F

    from fts_engine_spark.build import (
        BuildConfig,
        _term_tf_col,
        postings_wave_plan,
    )
    from fts_engine_spark.plans.review import formatted_plan

    cfg = BuildConfig(preset="english", shard_size=64, enc_partitions=16)
    web = docs.select(
        "text",
        F.concat(F.lit("u://"), F.col("doc_id").cast("string")).alias("url"),
        "lang",
    )
    ttf = _term_tf_col(cfg)
    tokens = (
        web.withColumn("pairs", ttf(web))
        .withColumn("doc_id", F.monotonically_increasing_id())
        .select(
            (F.col("doc_id") / cfg.shard_size).cast("long").alias("shard_id"),
            "doc_id",
            F.aggregate("pairs", F.lit(0), lambda a, x: a + x["tf"])
            .cast("long")
            .alias("dl"),
            "pairs",
        )
    )
    plan = formatted_plan(postings_wave_plan(spark, tokens, cfg, 0, 8))
    assert not re.search(r"\(\d+\) Sort\b", plan), f"JVM Sort in plan:\n{plan}"
    # formatted explain lists each node once in the tree and once in the
    # details section — count detail headers only
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan or "MapInPandas" in plan, plan
    # the exchange carries packed doc rows, not exploded postings: the
    # generator (salt sequence) must come BEFORE the exchange and no
    # Generate(explode(pairs)) may exist anywhere
    assert not re.search(r"Generate explode\(pairs", plan), plan


def test_salt_policy_caps_the_slice():
    """One salt rule for the postings wave, the compaction re-encode and
    the positional encode: fan out to ~parallelism tasks, but never below
    a 2048-doc slice."""
    from fts_engine_spark.build import salt_policy

    assert salt_policy(1 << 20, 4, 64) == 16  # production: full fan-out
    assert salt_policy(1 << 20, 100, 64) == 1  # many shards: no salt
    assert salt_policy(4096, 1, 64) == 2  # capped at shard_size // 2048
    assert salt_policy(1024, 3, 64) == 1  # small shards: never split
    assert salt_policy(1 << 20, 0, 8) == 8  # empty build: still >= 1 part


def test_assign_doc_ids_join_path_matches_literal_map(spark, docs, monkeypatch):
    """Dense-id assignment must be identical whether offsets ship as a
    literal map (small bucket counts) or a broadcast-join relation (the
    auto-scaled path for large clusters, where a create_map literal would
    be a 100k+-node expression tree)."""
    from pyspark.sql import functions as F

    import fts_engine_spark.build as B

    web = docs.select(
        F.concat(F.lit("u://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
        "lang",
    ).limit(300)
    lit_df, n1 = B.assign_doc_ids(web, 48)
    lit_ids = {r["url"]: r["doc_id"] for r in lit_df.select("url", "doc_id").collect()}

    monkeypatch.setattr(B, "_OFFSET_MAP_MAX_BUCKETS", 0)
    join_df, n2 = B.assign_doc_ids(web, 48)
    join_ids = {r["url"]: r["doc_id"] for r in join_df.select("url", "doc_id").collect()}

    assert n1 == n2 == 300
    assert lit_ids == join_ids
    assert sorted(lit_ids.values()) == list(range(300))


def test_compaction_tail_scan_is_partition_pruned(spark, small_index):
    """Compaction must read only the delta tail: the shard_id >= P
    predicate is on the partition column, so whole prefix-shard
    directories are pruned at the scan (the full-shard prefix is carried
    by file copy, never decoded)."""
    from fts_engine_spark.streaming.compact import _tail_postings

    index_dir, _ = small_index
    import os

    tail = _tail_postings(spark, os.path.join(index_dir, "postings"), 2)
    assert_plan(tail, "PartitionFilters")
    from fts_engine_spark.plans.review import formatted_plan

    plan = formatted_plan(tail)
    # the partition filter actually carries the shard predicate
    assert "shard_id" in plan.split("PartitionFilters", 1)[1][:200]


def test_match_count_reads_only_doc_blob(spark, small_index):
    """The pre-truncation total (VERDICT r4 wrong #3) decodes doc ids
    only: tf_blob/dl_blob must be PRUNED from the scan — the projection
    sits before the mapInArrow decode, so the count path never re-reads
    the bytes the block-partial WAND kernel skipped."""
    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir)
    df = fts._match_count_df({"turtle": 1, "hotel": 1})
    assert_plan(df, "ReadSchema: struct<term:string,doc_blob:binary>")
    assert_plan_absent(df, "tf_blob", "dl_blob")
    assert_plan_absent(df, "MapInPandas")


def test_facet_counts_plan_prunes_blobs_and_docs_columns(spark, small_index):
    """The facet panel rides the same doc-blob-only decode as the count
    path (no tf/dl bytes), and its docs-table scan reads ONLY the key and
    the facet column — at 10^12 docs reading url/url_md5/doclen for a
    two-column join would multiply the scan bytes."""
    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir)
    df = fts.facet_counts("turtle hotel", facet="lang")
    assert_plan(df, "ReadSchema: struct<term:string,doc_blob:binary>")
    assert_plan(df, "ReadSchema: struct<doc_id:bigint,lang:string>")
    assert_plan_absent(df, "tf_blob", "dl_blob", "url_md5", "doclen")
    assert_plan_absent(df, "MapInPandas")


def test_phrase_verify_pushes_candidate_urls_into_docs_scan(
    spark, docs, tmp_path_factory
):
    """search_phrase's verify must not scan the corpus: with a bounded
    candidate set, the candidate urls are pushed as an In() predicate
    into the parquet scan of the docs table (at 10^12 docs the full text
    scan would BE the query cost)."""
    from pyspark.sql import functions as F

    from fts_engine_spark.build import BuildConfig, build_index

    d = str(tmp_path_factory.mktemp("phrplan") / "ix")
    idx_docs = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
    )
    # write as parquet so the verify side is a real file scan with pushdown
    src = str(tmp_path_factory.mktemp("phrplan") / "src.parquet")
    idx_docs.write.parquet(src)
    pdocs = spark.read.parquet(src)
    build_index(
        spark, pdocs.withColumn("lang", F.lit("en")), d,
        BuildConfig(preset="simple", shard_size=64, id_buckets=4, n_waves=1),
        resume=False,
    )
    fts = FtsIndex(spark, d)
    out = search.search_phrase(fts, pdocs, "merge sort", k=0)
    assert_plan(out, "PushedFilters: [In(url", "Scan parquet")
    assert out.count() > 0


def test_phrase_verify_falls_back_to_join_over_cap(spark, docs, tmp_path_factory):
    """max_pushdown=0 disables the collect: the verify is the distributed
    semi-join (no url In() pushdown, no driver collect of candidates)."""
    from pyspark.sql import functions as F

    from fts_engine_spark.build import BuildConfig, build_index

    d = str(tmp_path_factory.mktemp("phrplan2") / "ix")
    idx_docs = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        "text",
    )
    build_index(
        spark, idx_docs.withColumn("lang", F.lit("en")), d,
        BuildConfig(preset="simple", shard_size=64, id_buckets=4, n_waves=1),
        resume=False,
    )
    fts = FtsIndex(spark, d)
    joined = search.search_phrase(fts, idx_docs, "merge sort", k=0, max_pushdown=0)
    pushed = search.search_phrase(fts, idx_docs, "merge sort", k=0)
    a = sorted((r["url"], int(r["phrase_count"])) for r in joined.collect())
    b = sorted((r["url"], int(r["phrase_count"])) for r in pushed.collect())
    assert a == b and a


def test_facet_histogram_plan_prunes_blobs_and_docs_columns(spark, small_index):
    """The histogram facet rides the same doc-blob-only decode as the
    facet panel, and its docs-table scan reads ONLY (doc_id, doclen) —
    the bucketing expression must not widen the scan."""
    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir)
    df = fts.facet_histogram("turtle hotel", col="doclen", width=50)
    assert_plan(df, "ReadSchema: struct<term:string,doc_blob:binary>")
    assert_plan(df, "ReadSchema: struct<doc_id:bigint,doclen:int>")
    assert_plan_absent(df, "tf_blob", "dl_blob", "url_md5")


def test_boosted_search_docs_scan_reads_key_and_url_only(spark, small_index):
    """search_bm25_boosted resolves boost urls through the docs table:
    that scan must read ONLY (doc_id, url) — hydration columns and doclen
    stay pruned — and the scored side keeps the posting-pruned point
    lookup (In(term) pushdown)."""
    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir)
    boost = spark.createDataFrame([("u1", 2.0)], "url string, boost double")
    df = fts.search_bm25_boosted("turtle hotel", k=10, boost=boost)
    assert_plan(df, "ReadSchema: struct<doc_id:bigint,url:string>")
    assert_plan(df, "PushedFilters: [In(term")
    assert_plan_absent(df, "url_md5", "doclen:")


def test_significant_terms_plan_prunes_tf_dl_blobs(spark, small_index):
    """Both decodes inside significant_terms are doc-blob-only: the
    foreground pass over the WHOLE postings table must never read
    tf_blob/dl_blob — at production blob sizes that projection is the
    difference between scanning ~1/3 of the index and all of it. The
    per-term count must also partial-aggregate (map-side combine) before
    the exchange."""
    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir)
    df = fts.significant_terms("turtle hotel", k=10, min_fg_df=1)
    assert_plan(df, "ReadSchema: struct<term:string,doc_blob:binary>")
    assert_plan_absent(df, "tf_blob", "dl_blob")
    from fts_engine_spark.plans.review import formatted_plan

    # r6: the foreground count happens inside the decode kernel against
    # the broadcast match-id array; only |distinct terms| partial counts
    # cross the exchange (partial_sum), not per-posting rows
    assert "partial_sum" in formatted_plan(df)


def test_collapse_plan_partial_aggregates(spark, small_index):
    """The per-group argmax is a max_by AGGREGATION: the plan must show
    a partial aggregate before the group exchange (the property that
    makes a skewed group cost one combiner row per partition, where a
    window would sort the whole group on one task) and no window
    operator at all."""
    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir)
    df = fts.search_bm25_collapsed("turtle hotel", collapse="lang", k=5)
    from fts_engine_spark.plans.review import formatted_plan

    plan = formatted_plan(df)
    assert "partial_max_by" in plan
    assert "Window" not in plan
    # the docs-side scan reads only the key and the collapse column
    assert_plan(df, "ReadSchema: struct<doc_id:bigint,lang:string>")


def _tail_reencode(spark, small_index, dead):
    import os
    from types import SimpleNamespace

    import numpy as np

    from fts_engine_spark.streaming.compact import _reencoded_tail, _tail_postings

    index_dir, meta = small_index
    tail = _tail_postings(spark, os.path.join(index_dir, "postings"), 1)
    n_tail = int(meta["n_shards"]) - 1
    return tail, _reencoded_tail(
        tail, 1, int(meta["shard_size"]), int(meta["skip_block"]),
        np.zeros(n_tail, dtype=np.int64), SimpleNamespace(value=dead),
        n_tail, 8,
    )


def test_compaction_reencode_plan_is_arrow_without_sort(spark, small_index):
    """Compaction decodes the tail in one mapInArrow kernel and re-encodes
    through the batch build's sort-group-encode core: no pandas stage and
    no JVM Sort (the (shard, term, doc) sort lives inside the kernel)."""
    import re

    import numpy as np

    from fts_engine_spark.plans.review import formatted_plan

    _, df = _tail_reencode(spark, small_index, np.array([40], dtype=np.int64))
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) MapInArrow", plan, re.M)) == 2, plan
    assert_plan_absent(df, "MapInPandas", "ArrowEvalPython")
    assert not re.search(r"\(\d+\) Sort\b", plan), f"JVM Sort in plan:\n{plan}"


def test_compaction_dictionary_correction_has_no_python_stage(
    spark, small_index
):
    """Under tombstones the Spark envelope of the dictionary merge
    corrects df/cf by a JVM difference of Σcount/Σtf_sum between the old
    and re-encoded tail rows — no blob is decoded a second time."""
    import os

    from fts_engine_spark.layout import TermDelta, _spark_terms, read_table

    index_dir, _ = small_index
    postings = os.path.join(index_dir, "postings")
    terms_path = os.path.join(index_dir, "terms")
    df = _spark_terms(
        spark,
        [TermDelta(terms_path, "terms"),
         TermDelta(postings, "postings", -1, 1),
         TermDelta(postings, "postings", 1, 1)],
    )
    assert_plan(df, "HashAggregate")
    assert_plan_absent(
        df, "MapInArrow", "MapInPandas", "ArrowEvalPython", "BatchEvalPython",
        "PythonUDF",
    )
    # old == new tail: a no-op correction
    terms = read_table(spark, terms_path, "terms")
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, terms.select("term", "df", "cf").collect())
    )


def test_update_documents_splices_without_spark_jobs(
    spark, small_corpus, tmp_path, monkeypatch
):
    """An upsert stages its delta at the final ids and MOVES the staged
    postings, docs and metrics into place: after the dictionary merge
    (which reads the staged postings before they move) no Spark job runs
    up to the commit (counted per job group through the status
    tracker). The merge itself runs in the driver, with no job; forced
    onto its Spark envelope it runs some."""
    import json
    import os

    from fts_engine_spark import layout
    from fts_engine_spark.build import BuildConfig, build_index
    from fts_engine_spark.mutate import update_documents
    from fts_engine_spark.streaming import incremental

    cfg = BuildConfig(preset="by_lang", shard_size=32, id_buckets=8)
    docs = spark.read.parquet(small_corpus).select("url", "text", "lang")
    index_dir = str(tmp_path / "ix")
    build_index(spark, docs.limit(60), index_dir, cfg, resume=False)

    sc = spark.sparkContext
    group = f"splice-{id(tmp_path)}"
    real_stage, real_merge = incremental._stage_batch, incremental.merge_terms

    def stage_then_merge(*a, **kw):
        out = real_stage(*a, **kw)
        sc.setJobGroup(f"{group}-dict", "dictionary merge")
        return out

    def merge_then_splice(*a, **kw):
        out = real_merge(*a, **kw)
        sc.setJobGroup(group, "splice")
        return out

    monkeypatch.setattr(incremental, "_stage_batch", stage_then_merge)
    monkeypatch.setattr(incremental, "merge_terms", merge_then_splice)
    tracker = sc.statusTracker()
    for budget, merge_jobs in (
        (layout.DRIVER_MERGE_MAX_BYTES, False), (0, True)
    ):
        monkeypatch.setattr(layout, "DRIVER_MERGE_MAX_BYTES", budget)
        with open(os.path.join(index_dir, "meta.json")) as f:
            n_before = json.load(f)["n_docs"]
        try:
            out = update_documents(spark, index_dir, docs.limit(80), cfg)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert bool(tracker.getJobIdsForGroup(f"{group}-dict")) == merge_jobs
        assert list(tracker.getJobIdsForGroup(group)) == []
        assert out["meta"]["n_docs"] == n_before + 80
        # replaced counts the docs this upsert tombstoned: the 60-doc
        # base first, then the first upsert's 80
        assert out["replaced"] == (60 if budget else 80)


def test_small_batch_stages_in_one_spark_job(
    spark, small_corpus, tmp_path, monkeypatch
):
    """A batch the Spark build would tokenize in one task stages in the
    driver: from the start of the append up to the dictionary merge the
    only Spark job is the bounded collect of the batch rows (it replaced
    ``isEmpty`` plus the Spark staged build's 9 jobs). The merge then
    runs in the driver with no job; forced onto its Spark envelope it
    runs some."""
    from fts_engine_spark import layout
    from fts_engine_spark.build import BuildConfig, build_index
    from fts_engine_spark.checkpoint import Manifest
    from fts_engine_spark.streaming import incremental

    cfg = BuildConfig(preset="by_lang", shard_size=32, id_buckets=8)
    docs = spark.read.parquet(small_corpus).select("url", "text", "lang")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    real_merge = incremental.merge_terms
    for budget, merge_jobs in (
        (layout.DRIVER_MERGE_MAX_BYTES, False), (0, True)
    ):
        index_dir = str(tmp_path / f"ix{budget}")
        build_index(spark, docs.limit(60), index_dir, cfg, resume=False)
        group = f"stage-{budget}-{id(tmp_path)}"

        def leave_group_then_merge(*a, group=group, **kw):
            sc.setJobGroup(f"{group}-merge", "dictionary merge")
            return real_merge(*a, **kw)

        monkeypatch.setattr(incremental, "merge_terms", leave_group_then_merge)
        monkeypatch.setattr(layout, "DRIVER_MERGE_MAX_BYTES", budget)
        sc.setJobGroup(group, "stage")
        try:
            # the whole 120-doc corpus: one parquet file, one input partition
            incremental._append_batch(spark, docs, index_dir, cfg)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert bool(tracker.getJobIdsForGroup(f"{group}-merge")) == merge_jobs
        assert len(tracker.getJobIdsForGroup(group)) == 1
        steps = Manifest(index_dir).steps()
        assert steps["delta_batch_1"]["metrics"]["envelope"] == "driver"


def test_empty_answers_run_no_spark_job(spark, small_index):
    """An answer known to be empty (every query term outside the
    dictionary, or a stopword-only query) is a relation Catalyst knows is
    empty: collecting it runs no job, hydrated or not; so does an empty
    ``local_df``."""
    from fts_engine_spark.localdf import local_df

    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir).warm(serving_conf=False)
    try:
        for query, hydrate in (
            ("qqqzzzxx", False), ("the and of", False), ("qqqzzzxx", True),
        ):
            df = fts.search_bm25(query, k=10, hydrate=hydrate)
            assert _jobs_launched(spark, df.collect) == (0, 0), (query, hydrate)
            assert df.collect() == []
    finally:
        fts.close()
    empty = local_df(spark, [], "id long, s string")
    assert _jobs_launched(spark, empty.collect) == (0, 0)


def test_absent_term_answers_run_no_spark_job(spark, small_index):
    """On a warm handle a query of terms the dictionary lacks is known
    empty for the surfaces matching ANY term: the facet family, field
    collapsing and explain collect an empty LocalRelation with no job."""
    index_dir, _ = small_index
    fts = FtsIndex(spark, index_dir).warm(serving_conf=False)
    try:
        for df in (
            fts.facet_stats("qqqzzzxx", "doclen"),
            fts.search_bm25_collapsed("qqqzzzxx", collapse="lang"),
            fts.explain_bm25("qqqzzzxx"),
        ):
            assert _jobs_launched(spark, df.collect) == (0, 0), df.columns
            assert df.collect() == []
    finally:
        fts.close()


def test_small_upsert_deletes_in_driver(spark, small_corpus, tmp_path, monkeypatch):
    """A small upsert's delete resolves its urls in the driver from the
    rows the upsert's one bounded collect holds: from the delete's start
    to its commit no Spark job runs, and the whole upsert runs exactly
    one, the collect (11 before the driver delete, 6 of them the
    delete's; 5 before the driver dictionary merge, 4 of them the
    merge's)."""
    from pyspark.sql import functions as F

    from fts_engine_spark import mutate
    from fts_engine_spark.build import BuildConfig, build_index

    cfg = BuildConfig(preset="by_lang", shard_size=32, id_buckets=8)
    docs = spark.read.parquet(small_corpus).select("url", "text", "lang")
    urls = [r["url"] for r in docs.select("url").collect()]
    index_dir = str(tmp_path / "ix")
    build_index(
        spark, docs.where(F.col("url").isin(urls[:60])), index_dir, cfg,
        resume=False,
    )
    batch = docs.where(F.col("url").isin(urls[40:100]))

    sc = spark.sparkContext
    group = f"delete-{id(tmp_path)}"
    real_delete = mutate.delete_documents

    def delete_in_own_group(*a, **kw):
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group, "delete")
        try:
            return real_delete(*a, **kw)
        finally:
            sc.setJobGroup(outer, outer)

    monkeypatch.setattr(mutate, "delete_documents", delete_in_own_group)
    out = {}
    jobs, _ = _jobs_launched(
        spark,
        lambda: out.update(up=mutate.update_documents(spark, index_dir, batch, cfg)),
    )
    assert out["up"]["replaced"] == 20 and out["up"]["n_deleted"] == 20
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert jobs == 1, jobs


def _jobs_launched(spark, fn) -> tuple[int, int]:
    """(jobs, schema-inference jobs) ``fn`` launches, counted through a
    job group and the status stores. A schema-inference job (parquet
    footer reads) is a job outside every SQL execution; the other kind,
    a parallel file listing, is told apart by its description."""
    import uuid

    sc = spark.sparkContext
    sql = spark._jsparkSession.sharedState().statusStore()

    def executions(tail: int):
        n = int(sql.executionsCount())
        it = sql.executionsList(max(0, n - tail), tail).iterator()
        while it.hasNext():
            yield it.next()

    last = max((int(e.executionId()) for e in executions(1)), default=-1)
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    in_sql = set()
    for e in executions(500):
        if int(e.executionId()) > last:
            keys = e.jobs().keys().iterator()
            while keys.hasNext():
                in_sql.add(int(keys.next()))
    store = sc._jsc.sc().statusStore()
    inference = 0
    for j in jobs - in_sql:
        desc = store.job(j).description()
        if not (desc.isDefined() and desc.get().startswith("Listing leaf")):
            inference += 1
    return len(jobs), inference


# jobs the same calls launched before: the upsert 12 before small deletes
# resolved in the driver (36 before table reads pinned their schemas, the
# staged build dropped its dictionary and deletes scanned docs once)
_PARENT_UPSERT_JOBS = 12
# a compaction's Spark jobs with AQE on: the postings re-encode's shuffle
# stage and write, and the docs rewrite; the rest reads with pyarrow in
# the driver (10 jobs under tombstones, 9 without, while occupancy,
# tombstones, the prefix check and the tail metrics ran on Spark; 25
# before table reads pinned their schemas)
_COMPACT_JOBS = 3


def _aqe_session(spark):
    """A session of its own with AQE on: a warm handle another test left
    open turns AQE off session-wide, and AQE runs each shuffle stage as
    its own job, so job counts are pinned under AQE."""
    session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "true")
    return session


def test_upsert_compact_and_warm_run_no_schema_inference(
    spark, small_corpus, tmp_path
):
    """Every read of an index table pins its schema: an upsert, a
    compaction and a warm reopen launch no schema-inference job, and the
    write path runs fewer jobs than before. The compaction, with no
    tombstone to purge, runs only its two data passes on Spark."""
    from fts_engine_spark.build import BuildConfig, build_index
    from fts_engine_spark.mutate import update_documents
    from fts_engine_spark.streaming.compact import compact_index

    cfg = BuildConfig(preset="by_lang", shard_size=32, id_buckets=8)
    docs = spark.read.parquet(small_corpus).select("url", "text", "lang")
    index_dir = str(tmp_path / "ix")
    build_index(spark, docs.limit(60), index_dir, cfg, resume=False)
    batch = docs.limit(80)  # its input was inferred when read above

    out = {}
    up_jobs, up_inf = _jobs_launched(
        spark,
        lambda: out.update(up=update_documents(spark, index_dir, batch, cfg)),
    )
    assert out["up"]["replaced"] == 60
    session = _aqe_session(spark)
    c_jobs, c_inf = _jobs_launched(
        spark, lambda: out.update(c=compact_index(session, index_dir))
    )
    assert out["c"]["n_docs"] == 80 and int(out["c"].get("n_deleted", 0)) == 0

    def reopen():
        FtsIndex(spark, index_dir).warm().close()

    w_jobs, w_inf = _jobs_launched(spark, reopen)
    assert (up_inf, c_inf, w_inf) == (0, 0, 0), (up_jobs, c_jobs, w_jobs)
    assert up_jobs < _PARENT_UPSERT_JOBS
    assert c_jobs == _COMPACT_JOBS


def test_pages_upsert_and_tombstone_compaction_job_budget(
    spark, small_corpus, tmp_path
):
    """The write cycle's Spark job budget. An upsert of an html-only page
    file through ``read_pages`` runs 2 jobs: the input's schema inference
    and the bounded collect (6 when the dictionary merged on Spark). The
    compaction that purges its tombstones runs 3 with AQE on: the postings
    re-encode (its shuffle stage and write) and the docs rewrite (10
    while its bookkeeping and metrics ran on Spark, 16 when the
    dictionary correction range-wrote on Spark and re-read Σcf)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from fts_engine_spark.build import BuildConfig, build_index
    from fts_engine_spark.mutate import update_documents
    from fts_engine_spark.sources.pages import read_pages
    from fts_engine_spark.streaming.compact import compact_index

    cfg = BuildConfig(preset="by_lang", shard_size=32, id_buckets=8)
    corpus = spark.read.parquet(small_corpus)
    urls = [r["url"] for r in corpus.select("url").collect()]
    index_dir = str(tmp_path / "ix")
    build_index(
        spark, corpus.where(F.col("url").isin(urls[:60])), index_dir, cfg,
        resume=False,
    )
    pages = str(tmp_path / "batch.parquet")
    rows = corpus.where(F.col("url").isin(urls[40:100])).select(
        "url", "html", "lang"
    ).collect()
    pq.write_table(
        pa.table({
            "url": [r["url"] for r in rows],
            "html": pa.array([r["html"] for r in rows], pa.binary()),
            "lang": [r["lang"] for r in rows],
        }),
        pages,
    )

    out = {}
    up_jobs, up_inf = _jobs_launched(
        spark,
        lambda: out.update(up=update_documents(
            spark, index_dir,
            read_pages(spark, pages).select("url", "text", "lang"), cfg,
        )),
    )
    assert out["up"]["replaced"] == 20
    assert (up_jobs, up_inf) == (2, 1)
    session = _aqe_session(spark)
    c_jobs, c_inf = _jobs_launched(
        spark, lambda: out.update(c=compact_index(session, index_dir))
    )
    assert out["c"]["n_docs"] == 100 and out["c"]["n_deleted"] == 0
    assert c_inf == 0 and c_jobs == _COMPACT_JOBS, c_jobs


# jobs the same batch build ran while it aggregated and range-wrote its
# dictionary on Spark and summed doclen for avgdl
_PARENT_BUILD_JOBS = 16


def test_batch_build_job_budget(spark, small_corpus, tmp_path, monkeypatch):
    """A 60-doc batch build runs 10 Spark jobs under the session's
    default conf (AQE on). Its dictionary is written by
    ``layout.write_terms`` from the postings, in the driver with no job;
    forced onto the Spark envelope it runs some and writes the same rows
    and the same avgdl."""
    import os
    import uuid

    from fts_engine_spark import build, layout
    from fts_engine_spark.build import BuildConfig, build_index

    session = _aqe_session(spark)
    cfg = BuildConfig(preset="by_lang", shard_size=32, id_buckets=8)
    docs = session.read.parquet(small_corpus).select("url", "text", "lang")
    sc = spark.sparkContext
    real_write = build.write_terms
    group = {}

    def terms_in_own_group(*a, **kw):
        outer = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(group["terms"], "terms")
        try:
            return real_write(*a, **kw)
        finally:
            sc.setJobGroup(outer, outer)

    monkeypatch.setattr(build, "write_terms", terms_in_own_group)
    jobs, meta, rows = {}, {}, {}
    for env, budget in (
        ("driver", layout.DRIVER_MERGE_MAX_BYTES), ("spark", 0)
    ):
        monkeypatch.setattr(layout, "DRIVER_MERGE_MAX_BYTES", budget)
        group["terms"] = f"terms-{uuid.uuid4().hex}"
        index_dir = str(tmp_path / env)
        total, _ = _jobs_launched(spark, lambda: meta.update({
            env: build_index(session, docs.limit(60), index_dir, cfg,
                             resume=False)
        }))
        jobs[env] = (
            total, len(sc.statusTracker().getJobIdsForGroup(group["terms"]))
        )
        rows[env] = sorted(
            layout._dataset(os.path.join(index_dir, "terms"), "terms")
            .to_table().to_pylist(),
            key=repr,
        )
    assert jobs["driver"] == (10, 0)
    assert jobs["driver"][0] < _PARENT_BUILD_JOBS
    assert jobs["spark"][1] > 0
    assert rows["driver"] and rows["spark"] == rows["driver"]
    assert meta["spark"]["avgdl"] == meta["driver"]["avgdl"]


def test_staged_build_writes_no_dictionary(spark, small_corpus, tmp_path):
    """A staged build (``_first_shard``) writes postings, docs and metrics
    at its final ids but no ``terms`` table and no avgdl: the append takes
    avgdl from the merged dictionary's Σcf."""
    import os

    from fts_engine_spark.build import BuildConfig, build_index
    from fts_engine_spark.layout import read_table

    cfg = BuildConfig(preset="by_lang", shard_size=32, id_buckets=8)
    docs = spark.read.parquet(small_corpus).select("url", "text", "lang")
    staging = str(tmp_path / "staged")
    meta = build_index(
        spark, docs.limit(40), staging, cfg, resume=False, _first_shard=3
    )
    assert not os.path.exists(os.path.join(staging, "terms"))
    for table in ("postings", "docs", "metrics"):
        assert os.path.isdir(os.path.join(staging, table))
    lens = read_table(spark, os.path.join(staging, "docs"), "docs")
    assert lens.agg({"doc_id": "min"}).first()[0] == 3 * 32
    assert "avgdl" not in meta


def test_repeat_write_cycle_reuses_generated_code(spark, small_corpus, tmp_path):
    """The session's generated-code cache holds a whole write cycle: a
    second upsert + warm reopen + compaction of the same shape compiles
    few classes (6-15 measured here, alone or after this module's other
    tests). With Spark's 100-entry default the cycle's ~100 classes
    evicted each other and every cycle re-compiled them (114-125)."""
    from fts_engine_spark.build import BuildConfig, build_index
    from fts_engine_spark.mutate import update_documents
    from fts_engine_spark.streaming.compact import compact_index

    codegen = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    cfg = BuildConfig(preset="by_lang", shard_size=32, id_buckets=8)
    docs = spark.read.parquet(small_corpus).select("url", "text", "lang")
    index_dir = str(tmp_path / "ix")
    build_index(spark, docs.limit(60), index_dir, cfg, resume=False)
    batch = docs.limit(80)

    def cycle() -> int:
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        update_documents(spark, index_dir, batch, cfg)
        FtsIndex(spark, index_dir).warm().close()
        compact_index(spark, index_dir)
        return codegen.METRIC_COMPILATION_TIME().getCount() - before

    cycle()
    assert cycle() <= 30
