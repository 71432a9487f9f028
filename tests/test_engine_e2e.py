"""End-to-end: Spark engine must be rank-identical (doc ids AND float64
scores, bit-for-bit) to the NumPy oracle on the reference query set
(FIXTURES.md §3) plus engine-stress queries."""

import shutil

import pytest

from admarus_spark.index import checkpoint as ckpt
from admarus_spark.index.build import IndexBuilder
from admarus_spark.oracle import OracleIndex
from admarus_spark.search.engine import SearchEngine

MOVIES_QUERIES = [
    "hunger",                       # kamilata/tests/search.rs:57
    "perfectly matching",           # kamilata/tests/priorities.rs:74,87 (quick-OR!)
    "hunger AND games",
    "hunger / games",
    "hunger + fire",
    "survival AND NOT hunger",
    "2(hunger, games, fire)",
    "3(hunger, games, fire, survival)",
    "lang=en AND hunger",
    "repo=movies AND fire",
    "lang=en",
    "survival rebellion hope",
    "NOT hunger",
    "nosuchterm",
    "aa bb",                        # all sub-3-char -> empty
]

DOCS_QUERIES = [
    "license",                      # hot term (>=50% of docs: skew fixture)
    "parser",
    "license AND parser",           # hot ∧ mid
    "rareterm000063z",              # unique rare term
    "license AND rareterm000063z",  # hot ∧ rare
    "parser lexer bloom",           # quick-OR
    "license / parser / bloom",
    "2(parser, lexer, bloom)",
    "parser AND NOT bloom",
    "lang=python AND bloom",
    "camelcase",                    # mixed-case source token
    "todo",
    "123 456",                      # numeric tokens
    "if a of",                      # tokenizer-drop -> empty
    "license AND NOT license",      # contradiction -> empty
]


def run_parity(engine, oracle, queries, k=10, wand="auto"):
    fails = []
    for q in queries:
        got = [(r["doc_id"], r["score"]) for r in engine.search(q, k, wand=wand).collect()]
        want = oracle.search(q, k)
        if got != want:
            fails.append((q, got[:3], want[:3]))
    assert not fails, fails


def test_movies_parity(movies_engine, movies_oracle):
    run_parity(movies_engine, movies_oracle, MOVIES_QUERIES)


def test_docs_parity(docs_engine, docs_oracle):
    run_parity(docs_engine, docs_oracle, DOCS_QUERIES)


def test_docs_parity_wand_off(docs_engine, docs_oracle):
    run_parity(docs_engine, docs_oracle, DOCS_QUERIES, wand="off")


def test_wand_rank_safe_large_k(docs_engine, docs_oracle):
    # WAND block skipping must stay exact at several k values
    for k in (1, 3, 25, 200):
        run_parity(docs_engine, docs_oracle, ["license", "parser lexer bloom"], k=k)


def test_partition_count_invariance(spark, docs_pdf, docs_oracle, tmp_path):
    """Same corpus indexed with different bucket/partition settings must
    produce identical query results (SURVEY.md §5 test plan b)."""
    d = str(tmp_path / "idx_alt")
    IndexBuilder(spark, d, n_buckets=3).build(
        spark.createDataFrame(docs_pdf).repartition(17), input_token="alt"
    )
    eng = SearchEngine(spark, d)
    run_parity(eng, docs_oracle, ["license", "license AND parser", "2(parser, lexer, bloom)"])


def test_auto_guard_uses_largest_bucket(spark, tmp_path, monkeypatch):
    """The explicit skew test. The encode choice must gate on the LARGEST
    bucket, not the cross-bucket mean: with a cap between the two, a skewed
    vocabulary (every doc shares one hot term) must take local-merge even
    though the mean estimate fits — and that index must match the oracle."""
    import pandas as pd

    pdf = pd.DataFrame(
        [
            {
                "repo": "skew", "path": f"f{i:04d}.py", "commit": "c0",
                "lang": "python", "content": f"hotterm uniq{i:05d}term",
            }
            for i in range(300)
        ]
    )
    d1 = str(tmp_path / "idx_probe")
    b1 = IndexBuilder(spark, d1, n_buckets=8)
    b1.build(spark.createDataFrame(pdf), input_token="probe")
    s2 = b1.metrics["stage2_postings"]
    s1 = b1.metrics["stage1_tokenize"]
    assert s2["strategy"] == "shuffle-encode"
    max_bucket_bytes = int(s2["max_bucket_rows"]) * 48
    mean_est = int(s1["total_tokens"]) * 48 // 8
    cap = max_bucket_bytes - 1
    assert mean_est <= cap, "corpus must separate mean from max for this test"
    monkeypatch.setenv("SPARK_GRAFT_S2_MAX_BUCKET_BYTES", str(cap))
    d2 = str(tmp_path / "idx_skewguard")
    b2 = IndexBuilder(spark, d2, n_buckets=8)
    b2.build(spark.createDataFrame(pdf), input_token="skewguard")
    assert b2.metrics["stage2_postings"]["strategy"] == "local-merge"
    run_parity(
        SearchEngine(spark, d2), OracleIndex(pdf),
        ["hotterm", "uniq00007term", "hotterm AND uniq00042term",
         "hotterm uniq00299term", "2(hotterm, uniq00001term, uniq00002term)",
         "hotterm AND NOT uniq00100term"],
    )


def test_auto_strategy_resolution(spark, docs_pdf, docs_oracle, tmp_path, monkeypatch):
    """Stage 2 takes shuffle-encode when the largest bucket fits the cap and
    local-merge above it — with identical query results either way (the
    choice is a physical-plan decision only)."""
    d1 = str(tmp_path / "idx_auto_se")
    b1 = IndexBuilder(spark, d1, n_buckets=8)
    b1.build(spark.createDataFrame(docs_pdf), input_token="auto1")
    assert b1.metrics["stage2_postings"]["strategy"] == "shuffle-encode"

    monkeypatch.setenv("SPARK_GRAFT_S2_MAX_BUCKET_BYTES", "1")  # force local-merge
    d2 = str(tmp_path / "idx_auto_lm")
    b2 = IndexBuilder(spark, d2, n_buckets=8)
    b2.build(spark.createDataFrame(docs_pdf), input_token="auto2")
    assert b2.metrics["stage2_postings"]["strategy"] == "local-merge"
    for d in (d1, d2):
        run_parity(
            SearchEngine(spark, d), docs_oracle,
            ["license", "license AND parser", "2(parser, lexer, bloom)",
             "parser lexer bloom", "parser AND NOT bloom", "lang=python AND bloom"],
        )


def test_resume_skips_completed_stages(spark, movies_pdf, tmp_path):
    d = str(tmp_path / "idx_resume")
    b = IndexBuilder(spark, d, n_buckets=4)
    docs = spark.createDataFrame(movies_pdf)
    b.build(docs, input_token="r1")
    s1 = b.metrics["stage1_tokenize"]["wall_clock_completed"]
    # stage2 invalidated -> only stages 2,3 re-run; stage1 output reused
    ckpt.invalidate(d, "stage2_postings")
    b.build(docs, input_token="r1")
    assert b.metrics["stage1_tokenize"]["wall_clock_completed"] == s1
    eng = SearchEngine(spark, d)
    assert eng.search("hunger", 5).count() == 5


def test_sha_validation_excludes_rows(spark, movies_pdf, tmp_path):
    d = str(tmp_path / "idx_sha")
    bad = movies_pdf.copy()
    bad.loc[3, "content_sha256"] = "0" * 64
    # parquet source, not createDataFrame: the content-free-scan guard below
    # is a plan assertion, and Catalyst constant-folds filters into a
    # LocalRelation (where sha2 would vanish from the plan either way)
    src = str(tmp_path / "docs_sha.parquet")
    spark.createDataFrame(bad).write.parquet(src)
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(spark.read.parquet(src), input_token="sha")
    m = b.metrics["stage1_tokenize"]
    assert m["rows_invalid_sha"] == 1
    assert m["n_docs"] == len(movies_pdf) - 1
    # duplicate-free input: the doc_dict job must stay content-free — the
    # validity filter lives in the tf marker join, NOT a sha2 re-scan (r5
    # regression guard; the plan-level flag is recorded by the build)
    assert m["docdict_hashes_content"] is False


def test_duplicate_input_paths_deduped_to_max_sha_winner(
    spark, movies_pdf, tmp_path
):
    """A crawl dump carrying the same (repo, path) twice must not fan out
    the manifest join (duplicate postings, double-counted df, multiple
    doc_dict rows): the build keeps ONE deterministic winner per key — the
    max-content_sha256 row, same rule as the incremental within-delta
    dedup — and the engine matches an oracle over the deduped corpus."""
    import hashlib

    from admarus_spark.oracle import OracleIndex

    dirty = movies_pdf.copy()
    dup = dirty.iloc[[5]].copy()
    dup["content"] = dup["content"] + " duplicated variant row"
    dup["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in dup["content"]
    ]
    dirty = __import__("pandas").concat([dirty, dup], ignore_index=True)

    # expected corpus: per (repo, path) the max-sha row
    clean = (
        dirty.sort_values(["repo", "path", "content_sha256"])
        .groupby(["repo", "path"], as_index=False)
        .last()
    )
    oracle = OracleIndex(clean)

    d = str(tmp_path / "idx_dup")
    src = str(tmp_path / "docs_dup.parquet")
    spark.createDataFrame(dirty).write.parquet(src)
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(spark.read.parquet(src), input_token="dup")
    m = b.metrics["stage1_tokenize"]
    assert m["rows_dup_path"] == 1
    assert m["n_docs"] == len(clean)
    # the dirty path alone pays the content re-scan (dedup needs the
    # sha-validated rows in the dictionary lineage; parquet source so the
    # plan flag is meaningful — see test_sha_validation_excludes_rows)
    assert m["docdict_hashes_content"] is True

    dd = spark.read.parquet(d + "/doc_dict").toPandas()
    assert len(dd) == len(clean)
    assert dd.groupby(["repo", "path"]).size().max() == 1

    eng = SearchEngine(spark, d)
    run_parity(eng, oracle, ["hunger", "hunger AND games", "perfectly matching"])


def test_duplicate_with_junk_sha_never_shadows_valid_row(
    spark, movies_pdf, tmp_path
):
    """sha validation runs BEFORE the duplicate dedup (same order as the
    incremental path): a junk-sha duplicate sorts above any real hex sha —
    if it won the dedup first, the gate would then drop it and the VALID
    version of the document would silently vanish from the index."""
    from admarus_spark.oracle import OracleIndex

    dirty = movies_pdf.copy()
    dup = dirty.iloc[[3]].copy()
    dup["content"] = dup["content"] + " poisoned copy"
    dup["content_sha256"] = "f" * 64  # junk: max possible hex string
    dirty = __import__("pandas").concat([dirty, dup], ignore_index=True)

    oracle = OracleIndex(movies_pdf)  # the valid originals, nothing lost
    d = str(tmp_path / "idx_junkdup")
    b = IndexBuilder(spark, d, n_buckets=4)
    b.build(spark.createDataFrame(dirty), input_token="junkdup")
    m = b.metrics["stage1_tokenize"]
    assert m["rows_dup_path"] == 1
    assert m["n_docs"] == len(movies_pdf)

    eng = SearchEngine(spark, d)
    run_parity(eng, oracle, ["hunger", "hunger AND games", "perfectly matching"])


def test_duplicate_equal_sha_winner_is_deterministic(spark, movies_pdf, tmp_path):
    """Equal-sha duplicates with differing metadata must pick the SAME winner
    on every run: the dedup orders by the full (content_sha256, *other
    columns) tuple (index.build.max_tuple_dedup — shared with the
    incremental within-delta dedup), not by sha alone, where row_number
    over a tied ordering is nondeterministic across partitionings."""
    dirty = movies_pdf.copy()
    dup = dirty.iloc[[8]].copy()  # same content + sha, different commit
    dup["commit"] = "z" * 40  # sorts above any hex commit
    dirty = __import__("pandas").concat([dirty, dup], ignore_index=True)
    key_path = dup["path"].iat[0]

    for token in ("eqsha-a", "eqsha-b"):
        d = str(tmp_path / f"idx_{token}")
        b = IndexBuilder(spark, d, n_buckets=4)
        b.build(spark.createDataFrame(dirty), input_token=token)
        dd = spark.read.parquet(d + "/doc_dict").toPandas()
        row = dd[dd["path"] == key_path]
        assert len(row) == 1
        assert row["commit"].iat[0] == "z" * 40  # max-tuple winner, both runs


def test_dedup_doc_rows_fallback_matches_broadcast_path(spark, monkeypatch):
    """dedup_doc_rows has two physical shapes — broadcast-split (unique rows
    bypass the exchange) and the full max-struct aggregate above the
    duplicated-rows cap. Same winners either way."""
    import pandas as pd

    from admarus_spark.index import build as build_mod

    rows = []
    for i in range(40):
        for v in range(3 if i % 5 == 0 else 1):
            c = f"content {i} v{v}"
            rows.append({
                "repo": "r", "path": f"p{i:03d}", "commit": f"c{v}",
                "lang": "en", "content": c,
                "content_sha256": __import__("hashlib").sha256(c.encode()).hexdigest(),
            })
    docs = spark.createDataFrame(pd.DataFrame(rows))
    n_dup = len(rows) - 40

    a = build_mod.dedup_doc_rows(docs, n_dup).toPandas()
    monkeypatch.setattr(build_mod, "DUP_KEYS_BROADCAST_MAX", 0)
    b = build_mod.dedup_doc_rows(docs, n_dup).toPandas()
    key = ["repo", "path"]
    a = a.sort_values(key).reset_index(drop=True)
    b = b.sort_values(key).reset_index(drop=True)
    assert len(a) == 40
    pd.testing.assert_frame_equal(a[sorted(a.columns)], b[sorted(b.columns)])


def test_assign_range_ids_dedup_is_shuffle_free(spark):
    """The manifest dedup must stay partition-local: range partitioning
    co-locates equal (repo, path) keys and the partition sort makes them
    adjacent, so duplicate dropping rides the existing id-assign Arrow pass
    (with a batch tail-carry) and the distinct count is a map-side partial.
    Pin BOTH the semantics (dense ids over distinct keys, duplicates
    collapsed even when a run straddles Arrow batch boundaries) and the
    plan shape (exactly ONE exchange — the range repartition; a distinct()
    regression would add a hash exchange)."""
    import pandas as pd

    from admarus_spark.index.build import assign_range_ids

    rows = []
    for i in range(600):
        # every 7th key duplicated 3x: runs long enough to straddle the
        # 64-row Arrow batches forced below
        for _ in range(3 if i % 7 == 0 else 1):
            rows.append({"repo": f"r{i % 5}", "path": f"p{i:05d}"})
    pdf = pd.DataFrame(rows).sample(frac=1.0, random_state=7)  # shuffled input
    docs = spark.createDataFrame(pdf)

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
    try:
        manifest_ids, manifest, part_counts, _ = assign_range_ids(docs, 4, base=10)
        got = manifest_ids.toPandas().sort_values("doc_id")
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        manifest.unpersist()

    want = (
        pdf.drop_duplicates()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    assert sum(part_counts.values()) == len(want)
    assert list(got["doc_id"]) == list(range(10, 10 + len(want)))
    assert list(zip(got["repo"], got["path"])) == list(zip(want["repo"], want["path"]))

    plan = manifest_ids._jdf.queryExecution().executedPlan().toString()
    # the ONLY exchange is the range repartition; a distinct()/dropDuplicates
    # regression would add an Exchange hashpartitioning + HashAggregate pair
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" in plan, plan


def test_result_schema(movies_engine):
    df = movies_engine.search("hunger", 3)
    assert [f.name for f in df.schema.fields] == [
        "doc_id", "score", "repo", "path", "commit", "lang",
    ]


def test_empty_top_bucket_routing(spark, movies_pdf, movies_oracle, tmp_path):
    """Routing modulus must come from the persisted n_buckets, not from
    max(occupied bucket)+1: with n_buckets far above the term count, the
    highest buckets hold zero terms and write no partition/summary row —
    occupancy inference would mis-route every term (ADVICE r1, medium)."""
    d = str(tmp_path / "idx_many_buckets")
    IndexBuilder(spark, d, n_buckets=512).build(
        spark.createDataFrame(movies_pdf), input_token="many-buckets"
    )
    eng = SearchEngine(spark, d)
    assert eng.n_buckets == 512
    run_parity(eng, movies_oracle, ["hunger", "hunger AND games", "perfectly matching"])


def test_search_k_none_returns_all_matches(movies_engine, movies_oracle):
    got = [
        (r["doc_id"], r["score"])
        for r in movies_engine.search("hunger", None).collect()
    ]
    want = movies_oracle.search("hunger", 10**9)
    assert got == want


def test_manifest_broadcast_gate_off(spark, movies_pdf, movies_oracle, tmp_path):
    """Build with the stage-1 manifest broadcast gate forced OFF (threshold 0
    -> sort-merge/AQE join path): results must be identical."""
    d = str(tmp_path / "idx_nobc")
    IndexBuilder(
        spark, d, n_buckets=4, broadcast_manifest_max=0
    ).build(spark.createDataFrame(movies_pdf), input_token="nobc")
    eng = SearchEngine(spark, d)
    run_parity(eng, movies_oracle, ["hunger", "hunger / games", "lang=en AND hunger"])


def test_conjunctive_pruning_exact(docs_engine, docs_oracle):
    """AND/n-of-n decode pruning must be EXACT (not just rank-safe) at any
    k: with the rarest required word bounding candidates, results equal the
    unpruned oracle bit-for-bit. Also covers required-word-missing early
    exit and the pruning-disabled control."""
    queries = [
        "license AND parser",
        "license AND rareterm000063z",
        "3(parser, lexer, bloom)",          # n == len -> all required
        "license AND parser AND NOT bloom",  # Not child inside n==len AND
        "lang=python AND bloom",             # filter child, word required
    ]
    for k in (3, 10, 10**6):
        run_parity(docs_engine, docs_oracle, queries, k=k)
    # control: pruning off (threshold 0) gives identical results
    old = docs_engine.and_prune_max_df
    try:
        docs_engine.and_prune_max_df = 0
        run_parity(docs_engine, docs_oracle, queries)
    finally:
        docs_engine.and_prune_max_df = old


def test_nofm_pigeonhole_pruning_exact(docs_engine, docs_oracle):
    """n-of-m decode pruning (1 < n < m, pigeonhole cover of the m-n+1
    rarest children) must be EXACT at any k, including with a hot child in
    the cover complement, unindexed children shrinking m', and the
    fewer-than-n-present early exit."""
    queries = [
        "2(parser, lexer, bloom)",
        "2(license, parser, bloom)",          # hot child pruned by rare cover
        "3(license, parser, lexer, bloom)",
        "2(parser, lexer, nosuchterm)",       # m' shrinks to 2 -> cover of 1
        "2(rareterm000063z, nosuchterma, nosuchtermb)",  # m' < n -> empty
    ]
    for k in (3, 10, 10**6):
        run_parity(docs_engine, docs_oracle, queries, k=k)
    # control: pruning off gives identical results
    old = docs_engine.and_prune_max_df
    try:
        docs_engine.and_prune_max_df = 0
        run_parity(docs_engine, docs_oracle, queries)
    finally:
        docs_engine.and_prune_max_df = old


def test_nofm_cover_selection():
    from admarus_spark.query.parser import parse_query
    from admarus_spark.search.engine import _nofm_cover_words

    df_map = {"aaa": 5, "bbb": 10, "ccc": 100}
    # 2-of-3: cover = the 2 rarest children
    assert _nofm_cover_words(parse_query("2(aaa, bbb, ccc)").root, df_map) == ["aaa", "bbb"]
    # n == m is the conjunctive (required-words) path, not ours
    assert _nofm_cover_words(parse_query("aaa AND bbb").root, df_map) is None
    # quick-OR (n=1) is the WAND path
    assert _nofm_cover_words(parse_query("aaa bbb ccc").root, df_map) is None
    # unindexed children shrink m': 2-of-3 with one absent -> cover of 1
    assert _nofm_cover_words(parse_query("2(aaa, bbb, zzz)").root, df_map) == ["aaa"]
    # fewer present than n -> provably empty
    assert _nofm_cover_words(parse_query("2(aaa, yyy, zzz)").root, df_map) == []
    # nested / non-Word children -> not applicable
    assert _nofm_cover_words(parse_query("2(aaa, bbb, NOT ccc)").root, df_map) is None


def test_nofm_pruning_reduces_decode(docs_engine):
    """A hot term's decode must shrink when candidates come from the rare
    cover of a 2-of-3 query (the measured win recorded in BENCH/PLANS.md)."""
    import numpy as np
    from pyspark.sql import functions as F

    from admarus_spark.murmur import term_bucket

    eng = docs_engine
    cover = np.unique(
        np.concatenate(
            [eng._collect_term_ids("parser"), eng._collect_term_ids("bloom")]
        )
    )
    tb = term_bucket("license", eng.n_buckets)
    pruned = eng.postings.filter((F.col("tb") == tb) & (F.col("term") == "license"))
    full = eng._decode(pruned, None).count()
    cut = eng._decode(pruned, None, cover).count()
    assert cut < full


def test_conjunctive_pruning_reduces_decode(docs_engine):
    """The pruned decode must emit strictly fewer rows for a hot term when
    candidates come from a rare conjunct."""
    from pyspark.sql import functions as F

    eng = docs_engine
    rare_ids = eng._collect_term_ids("rareterm000063z")
    assert rare_ids.size >= 1
    tb = __import__("admarus_spark.murmur", fromlist=["term_bucket"]).term_bucket(
        "license", eng.n_buckets
    )
    pruned = eng.postings.filter((F.col("tb") == tb) & (F.col("term") == "license"))
    full = eng._decode(pruned, None).count()
    cut = eng._decode(pruned, None, rare_ids).count()
    assert cut < full
    assert cut == rare_ids.size or cut <= rare_ids.size  # only candidate rows


def test_bmw_cross_term_pruning(docs_engine, docs_oracle):
    """Cross-term BMW (one global threshold across the query's terms) must
    keep top-k exact and record its decode-pruning stats (VERDICT r3 #7).
    The r6 small-volume gate would route this corpus to the full decode, so
    the threshold is forced off to exercise the BMW path itself."""
    old = docs_engine.single_prune_min_postings
    try:
        docs_engine.single_prune_min_postings = 0
        run_parity(docs_engine, docs_oracle, ["parser lexer bloom"], k=5)
    finally:
        docs_engine.single_prune_min_postings = old
    stats = docs_engine.last_bmw
    assert stats is not None
    assert 0 < stats["blocks_kept"] <= stats["blocks_total"]
    assert stats["theta"] > float("-inf")


def test_doc_dict_pin_and_refresh_release(spark, movies_pdf, movies_oracle, tmp_path):
    """r6: the engine pins its dictionary at init (size-gated); results are
    unchanged, and refresh() releases the old pin before re-init so a
    long-lived serving engine neither leaks cache nor serves a stale
    dictionary snapshot after an external change."""
    d = str(tmp_path / "idx_ddpin")
    IndexBuilder(spark, d, n_buckets=4).build(
        spark.createDataFrame(movies_pdf), input_token="ddpin"
    )
    eng = SearchEngine(spark, d)
    assert eng._dd_persisted  # gate admits the tiny corpus
    assert eng.doc_dict.storageLevel.useMemory
    run_parity(eng, movies_oracle, ["hunger", "hunger AND games"])
    old_dd = eng.doc_dict
    # storageLevel is plan-keyed, so with the re-pin active the old handle
    # would report the NEW pin; gate the re-pin off to observe the release
    import os as _os

    _os.environ["SPARK_GRAFT_DD_CACHE_MAX_DOCS"] = "0"
    try:
        eng.refresh()
        assert not eng._dd_persisted  # gate respected
        assert not old_dd.storageLevel.useMemory  # old pin released
    finally:
        del _os.environ["SPARK_GRAFT_DD_CACHE_MAX_DOCS"]
    run_parity(eng, movies_oracle, ["hunger"])
    eng.refresh()
    assert eng._dd_persisted  # re-pinned once the gate admits again
    run_parity(eng, movies_oracle, ["hunger"])


def test_small_volume_gate_skips_driver_pruning(docs_engine, docs_oracle):
    """r6: under single_prune_min_postings, wand='auto' takes the
    full-decode path for multi-term shapes (no BMW probe, no rare-id fetch)
    with results still exact; wand='on' keeps forcing BMW."""
    eng = docs_engine
    old = eng.single_prune_min_postings
    try:
        eng.single_prune_min_postings = 1 << 60  # everything is "small"
        eng.last_bmw = None
        run_parity(
            eng, docs_oracle,
            ["parser lexer bloom", "license AND parser", "2(parser, lexer, bloom)"],
            k=5,
        )
        assert eng.last_bmw is None  # BMW never engaged under the gate
        # forcing wand='on' bypasses the gate and still matches
        run_parity(eng, docs_oracle, ["parser lexer bloom"], k=5, wand="on")
        assert eng.last_bmw is not None
    finally:
        eng.single_prune_min_postings = old


def test_zero_term_corpus_builds_empty_index(spark, tmp_path):
    """A corpus whose documents tokenize to ZERO >=3-char tokens must build
    a valid, empty-searchable index — the partitionBy postings write emits
    only _SUCCESS for it, which used to kill the read-back (and every later
    reader) with UNABLE_TO_INFER_SCHEMA (r5 review)."""
    import pandas as pd

    from admarus_spark.corpus import sha256_hex

    rows = []
    for i in range(6):
        content = "a b c d aa bb cc"  # every token < 3 chars
        rows.append(("r", f"p{i}.txt", "c" * 40, "en", content, sha256_hex(content)))
    pdf = pd.DataFrame(
        rows, columns=["repo", "path", "commit", "lang", "content", "content_sha256"]
    )
    d = str(tmp_path / "idx_zeroterm")
    IndexBuilder(spark, d, n_buckets=2).build(
        spark.createDataFrame(pdf), input_token="zt"
    )
    post = spark.read.parquet(f"{d}/postings")  # readable, typed, empty
    assert post.count() == 0
    eng = SearchEngine(spark, d)
    assert eng.search("anything", 10).count() == 0
    assert eng.search("aa bb", 10).count() == 0


def test_keep_tf_false_cleans_and_resumes(spark, movies_pdf, tmp_path):
    """keep_tf=False drops the stage-1 tf table after a successful build
    (it is postings-sized — r5 review: the flag was dead config); a resume
    with valid stage-2/3 checkpoints must still no-op, and search parity
    holds."""
    import os

    from admarus_spark.oracle import OracleIndex

    d = str(tmp_path / "idx_nokeep")
    b = IndexBuilder(spark, d, n_buckets=4, keep_tf=False)
    sdf = spark.createDataFrame(movies_pdf)
    b.build(sdf, input_token="nk")
    assert not os.path.exists(f"{d}/tf")

    oi = OracleIndex(movies_pdf)
    eng = SearchEngine(spark, d)
    for q in ["hunger", "hunger AND games", "2(hunger, games, fire)"]:
        got = [(r["doc_id"], r["score"]) for r in eng.search(q, 10).collect()]
        assert got == oi.search(q, 10), q

    # resume with everything checkpointed: no stage re-runs, no tf needed
    b2 = IndexBuilder(spark, d, n_buckets=4, keep_tf=False)
    b2.build(sdf, input_token="nk")
    assert b2.metrics["stage2_postings"] == b.metrics["stage2_postings"]
