"""Edge-input parity between the three engines (Spark / DuckDB / Python
oracle) — regressions for the round-3 adversarial review findings:

- ANSI divide-by-zero surfaces (Spark 4 defaults ANSI on): empty documents
  in quality_scores, all-zero embeddings in the JVM cosine expressions —
  both must yield NULL (the DuckDB twins' behavior), never a crash.
- Whitespace-class parity: tab/newline-edged text through the S1 empty
  drop (oracle vs Spark) and the word-bigram shingle family (Python vs
  JVM vs DuckDB).
- TableIO commit atomicity: a writer crash must not destroy the last
  committed snapshot.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from kgp import oracle, textops
from kgp.io import TableIO
from kgp.ops import dedup, simsearch
from kgp.ops.textqa import QUALITY_SCORES_SQL, quality_scores
from kgp.pipeline import order as s1

EDGE_TEXTS = ["\t", "\n", "   ", " x ", "\ta b", "a\tb \n", "", None, "ok doc"]


def _transcripts_pdf():
    rows = []
    for i, t in enumerate(EDGE_TEXTS):
        rows.append(("c0", i, "user", t, None, pd.Timestamp("2025-01-01") + pd.Timedelta(minutes=i)))
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])


def test_s1_empty_drop_parity_on_whitespace_edges(spark):
    """A tab-only / newline-only turn must be kept or dropped IDENTICALLY
    by the pandas oracle and the Spark pipeline (both: space-only trim)."""
    pdf = _transcripts_pdf()
    got_oracle = oracle.order_turns(pdf)
    got_spark = (
        s1.order_turns(spark.createDataFrame(pdf))
        .select("conv_id", "turn_idx", "text").toPandas()
        .sort_values("turn_idx").reset_index(drop=True)
    )
    assert list(got_oracle["turn_idx"]) == list(got_spark["turn_idx"])
    assert list(got_oracle["text"]) == list(got_spark["text"])
    # the load-bearing cases: tab-only and newline-only turns ARE kept
    assert 0 in set(got_spark["turn_idx"])  # "\t"
    assert 1 in set(got_spark["turn_idx"])  # "\n"
    assert 2 not in set(got_spark["turn_idx"])  # "   " dropped by both


def test_quality_scores_empty_doc_null_not_crash(spark):
    """digit_ratio on an empty/whitespace doc: NULL on both engines (the
    unguarded form throws DIVIDE_BY_ZERO under Spark 4 ANSI mode)."""
    pdf = pd.DataFrame({"doc_id": [0, 1, 2], "text": ["", "   ", "a1b 22 c"]})
    got = (quality_scores(spark.createDataFrame(pdf))
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", pdf)
    want = (con.execute(QUALITY_SCORES_SQL).df()
            .sort_values("doc_id").reset_index(drop=True))
    for c in ["n_tokens", "uniq_ratio", "digit_ratio", "stop_ratio", "quality"]:
        pd.testing.assert_series_equal(
            got[c].astype("float64"), want[c].astype("float64"),
            check_names=False, rtol=0, atol=0)
    assert pd.isna(got.loc[0, "digit_ratio"]) and pd.isna(got.loc[1, "quality"])


def test_cosine_zero_vector_null_not_crash(spark):
    """All-zero embedding (hash_embed emits one for token-less docs) must
    score NULL in every JVM cosine path, matching the SQL twins."""
    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0]), (2, [0.6, 0.8, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: r["score"]
           for r in simsearch.cosine_topk(df, 0, k=5).collect()}
    assert got[1] is None and got[2] is not None
    batch = simsearch.knn_batch_topk(df, max_qid=2, k=5).collect()
    zero_q = [r for r in batch if r["qid"] == 1]
    assert all(r["score"] is None for r in zero_q)  # zero-norm query side
    pairs = simsearch.cosine_pairs_exact(df, threshold=0.0).collect()
    assert all(r["a"] != 1 and r["b"] != 1 for r in pairs)  # NULL >= t filters out


def test_word_bigram_shingles_three_engine_parity(spark):
    """Tab/newline-edged text: the Python shingle hasher, the JVM
    _word_bigrams expression, and the DuckDB ngram_jaccard normalization
    must all emit the SAME gram multiset (no phantom ' x' grams)."""
    texts = ["\ta b", "a\tb \n", "a b", " a  b ", "x", ""]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)
    jvm = {r["doc_id"]: sorted(r["g"]) for r in
           df.select("doc_id", dedup._word_bigrams().alias("g")).collect()}
    con = duckdb.connect()
    con.register("documents", pdf)
    duck = {r[0]: sorted(r[1]) for r in con.execute("""
        WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '[\\s\\v]+', ' ', 'g'), ' ') AS nt
                   FROM documents),
        w AS (SELECT doc_id, string_split(nt, ' ') AS ws, nt FROM d)
        SELECT doc_id, CASE WHEN len(ws) >= 2
               THEN list_distinct(list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]))
               ELSE [nt] END FROM w""").fetchall()}
    assert jvm == duck
    for i, t in enumerate(texts):
        py = textops.word_bigram_shingles(t)
        # whitespace-only docs: Python emits the empty SET, the array
        # engines a ['']-singleton — both verify to jaccard 1.0 vs another
        # empty doc, so only non-empty docs need gram-level equality
        if (t or "").strip(" \t\n\r\f\v"):
            assert py == {textops._fnv1a(g) for g in jvm[i]}, t
        else:
            assert py == set(), t


@pytest.mark.parametrize("crash_at", ["data_write", "manifest_commit"])
def test_tableio_crash_keeps_committed_snapshot(spark, tmp_path, monkeypatch, crash_at):
    """A second write that crashes — inside the data write, or at the
    manifest replace that commits it — must leave the first committed
    snapshot readable (versioned data dirs; manifest replace is the
    commit), and the next good write must clear the orphaned data dir."""
    import os

    from pyspark.sql import functions as F

    io = TableIO(str(tmp_path / "wh"))
    df1 = spark.range(10).withColumn("v", F.col("id") * 2)
    m1 = io.write(df1, "t")
    rows1 = sorted(map(tuple, io.read(spark, "t").collect()))
    assert len(rows1) == 10

    if crash_at == "data_write":
        @F.udf("long")
        def boom(x):
            raise RuntimeError("simulated mid-write crash")

        bad = spark.range(5).withColumn("v", boom(F.col("id")))
        with pytest.raises(Exception):
            io.write(bad, "t")
    else:
        def crash(src, dst):
            raise OSError("simulated crash at manifest commit")

        with monkeypatch.context() as mp:
            mp.setattr("kgp.io.os.replace", crash)
            with pytest.raises(OSError, match="manifest commit"):
                io.write(spark.range(5).withColumn("v", F.lit(7)), "t")
    # old snapshot still committed and readable, row for row
    assert io.manifest("t")["snapshot_id"] == m1["snapshot_id"]
    assert sorted(map(tuple, io.read(spark, "t").collect())) == rows1
    table_dir = tmp_path / "wh" / "t"

    def data_dirs():
        return {d for d in os.listdir(table_dir) if d.startswith("data")}

    if crash_at == "manifest_commit":
        # the uncommitted snapshot's data fully landed next to the live one
        assert data_dirs() == {m1["data_dir"], "data-001"}
    # a subsequent good write supersedes it cleanly and garbage-collects
    # every other data dir, the orphan included
    m2 = io.write(spark.range(3).withColumn("v", F.lit(1)), "t")
    assert m2["snapshot_id"] != m1["snapshot_id"]
    assert io.read(spark, "t").count() == 3
    assert data_dirs() == {m2["data_dir"]}


# ---------------------------------------------------------------------------
# round-3 second review pass: C0/\v whitespace-class drift in the remaining
# SQL twins, the last bare ANSI cosine, and materialized-cache staleness
# ---------------------------------------------------------------------------

C0_TEXTS = ["hello\vworld again", "a\x1cb c d", "pay\v42 kr now",
            "pay 43 kr now", "", "   ", "plain text one two"]


def _docs_pdf(texts=C0_TEXTS):
    return pd.DataFrame({"doc_id": range(len(texts)), "text": texts})


def test_fetch_extract_vertical_tab_parity(spark):
    """\\v in a document must collapse identically in the Spark (Java \\s)
    and DuckDB ([\\s\\v]) extraction chains — RE2's bare \\s lacks \\v."""
    from kgp.ops import fetch

    pdf = _docs_pdf(["hello\vworld", "a\v b\vc two words", "plain words here",
                     "pdf\vside text with several words"])
    got = (fetch.fetch_extract(spark.createDataFrame(pdf)).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", pdf)
    want = (con.execute(fetch.fetch_extract_sql()).df()
            .sort_values("doc_id").reset_index(drop=True))
    assert list(got["text_out"]) == list(want["text_out"])
    assert "\v" not in got.loc[0, "text_out"]


def test_simhash_pairs_c0_parity(spark):
    """simhash over \\v / \\x1c texts: Python tokenization (ascii_split
    after ASCII-class normalize) must match the DuckDB twin's
    [\\s\\v]-normalize + space-split — \\v is a boundary, \\x1c is not."""
    texts = ["alpha\vbeta gamma delta", "alpha beta gamma delta",
             "alpha beta gamma delt",  # 1-token edit: near-dup of both
             "x\x1cy z w q", "x y z w q", "totally different content here"]
    pdf = _docs_pdf(texts)
    got = sorted((r["a"], r["b"], r["hamming"]) for r in
                 dedup.simhash_near_dup_pairs(spark.createDataFrame(pdf)).collect())
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(tuple(r) for r in
                  con.execute(dedup.simhash_pairs_sql()).fetchall())
    assert got == want
    # the \v doc and its space twin tokenize identically -> hamming 0 pair
    assert (0, 1, 0) in got
    # the \x1c doc does NOT tokenize like its space twin (x\x1cy is ONE token)
    assert (3, 4, 0) not in got


def test_minhash_pairs_null_text_parity(spark):
    """NULL text must flow through BOTH engines as '' (the Spark UDF
    shingles (t or ''), the twin coalesces before lower()): NULL, ''
    and whitespace-only docs all get the sentinel signature and pair with
    each other.  Before the coalesce, the twin's CASE fell through to a
    NULL shingle list and emitted ZERO pairs for NULL-text docs — a
    false engine-drift failure on any fixture containing one."""
    texts = [None, "", "   ", "alpha beta gamma delta", "alpha beta gamma delta"]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = sorted((r["a"], r["b"]) for r in
                 dedup.minhash_near_dup_pairs(spark.createDataFrame(pdf))
                 .select("a", "b").collect())
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted((r[0], r[1]) for r in
                  con.execute(dedup.minhash_pairs_sql()).fetchall())
    assert got == want
    # the three token-less docs share the sentinel signature on BOTH engines
    for pair in [(0, 1), (0, 2), (1, 2)]:
        assert pair in got


def test_ngram_df_cap_binds_on_both_engines(spark):
    """The n-gram pairs drop every bigram in more than NGRAM_DF_CAP docs
    (the testdata corpora never reach the cap): here "common phrase" is
    in every doc.  Spark and the DuckDB twin agree, and both differ from
    the uncapped Jaccard, where that bigram alone pairs every doc."""
    n = dedup.NGRAM_DF_CAP + 6
    texts = [f"common phrase w{i} x{i}" for i in range(n)]
    texts += ["common phrase alpha beta gamma", "common phrase alpha beta delta"]
    pdf = _docs_pdf(texts)
    got = sorted(tuple(r) for r in
                 dedup.ngram_jaccard_pairs_sqlable(spark.createDataFrame(pdf)).collect())
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(tuple(r) for r in
                  con.execute(dedup.ngram_jaccard_sql("documents")).fetchall())
    assert got == want == [(n, n + 1, 0.5)]

    grams = [{f"{a} {b}" for a, b in zip(w, w[1:])} for w in (t.split() for t in texts)]
    uncapped = sorted(
        (i, j, round(len(grams[i] & grams[j]) / len(grams[i] | grams[j]), 6))
        for i in range(len(texts)) for j in range(i + 1, len(texts))
        if round(len(grams[i] & grams[j]) / len(grams[i] | grams[j]), 6)
        >= dedup.NGRAM_JACCARD_THRESHOLD)
    assert (n, n + 1, 0.6) in uncapped and len(uncapped) > n * (n - 1) // 2
    assert got != uncapped


def test_embed_components_c0_parity(spark):
    """M2 hash-embedder: \\v splits tokens, \\x1c/Unicode whitespace do
    not, on BOTH engines (bit-exact vq20 fixed-point match)."""
    from kgp.ops import embed

    # ASCII-only corpus: fnv1a_sql is exact for ASCII (ord == utf-8 byte);
    # non-ASCII tokens hash differently by documented design (sqlhash.py)
    pdf = _docs_pdf(["a\vb c", "x\x1cy z", "", "normal text one"])
    dim = 16
    got = (embed.embed_components(spark.createDataFrame(pdf), dim=dim)
           .toPandas().sort_values(["doc_id", "idx"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", pdf)
    want = (con.execute(embed.embed_components_sql(dim=dim)).df()
            .sort_values(["doc_id", "idx"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got.astype({"vq20": "int64"}), want.astype({"vq20": "int64"}),
        check_names=False)


def test_masked_dup_c0_and_unicode_digit_parity(spark):
    """dup_key family: \\v collapses, \\x1c and Unicode digits pass
    through untouched — scalar, JVM column, and DuckDB agree."""
    from kgp.ops.common import dup_key_col
    from kgp.ops.dedup import masked_dup_groups, masked_dup_groups_sql

    texts = ["pay\v42 kr", "pay 43 kr", "pay \u0663 kr", "pay 44 kr\x1c",
             "pay \u0663 kr", "pay 99 kr\x1c"]
    pdf = _docs_pdf(texts)
    # scalar == JVM column (the key S1's boilerplate census groups by)
    assert ([textops.dup_key(t) for t in texts]
            == [r["k"] for r in spark.createDataFrame(pdf).orderBy("doc_id")
                .select(dup_key_col("text").alias("k")).collect()])
    got = {(r["dup_key"], r["n_members"], r["keep_id"]) for r in
           masked_dup_groups(spark.createDataFrame(pdf), "text", "doc_id",
                             min_group=1).collect()}
    con = duckdb.connect()
    con.register("documents", pdf)
    want = {tuple(r) for r in con.execute(
        masked_dup_groups_sql("documents", "text", "doc_id", min_group=1)).fetchall()}
    assert got == want
    keys = {k for k, _, _ in got}
    assert "pay # kr" in keys            # \v collapsed, digits masked
    assert "pay \u0663 kr" in keys       # Unicode digit NOT masked
    assert any("\x1c" in k for k in keys)  # \x1c survives as a character


def test_canon_sql_vertical_tab_parity(spark):
    """canon_sql (DuckDB), canon_col (Spark) and textops.canon_ws agree:
    \\v collapses like Java's \\s, and Unicode edge spaces survive (DuckDB's
    one-argument trim strips them; Spark's trim and canon_ws do not)."""
    from kgp.ops.common import canon_col, canon_sql

    texts = ["a" + chr(11) + "b  c", "\xa0a b\xa0", "\u3000x\u3000", "\u2003y"]
    pdf = pd.DataFrame({"i": range(len(texts)), "s": texts})
    con = duckdb.connect()
    con.register("t", pdf)
    duck = [r[0] for r in con.execute(f"SELECT {canon_sql('s')} FROM t ORDER BY i").fetchall()]
    jvm = [r[0] for r in spark.createDataFrame(pdf).orderBy("i").select(canon_col("s")).collect()]
    assert duck[0] == "a b c"
    assert duck == jvm == [textops.canon_ws(t) for t in texts]


def test_coref_sql_vertical_tab_parity(spark):
    """resolve_anaphora: token positions must agree when \\v separates
    tokens (RE2 \\s+ would have glued 'it\\vran' into one token)."""
    from kgp.ops import coref

    pdf = _docs_pdf(["Alice arrived.\vThen it\vran fast.",
                     "Bob spoke. Then it ran fast."])
    got = (coref.resolve_anaphora(spark.createDataFrame(pdf)).toPandas()
           .sort_values(["doc_id", "pos"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", pdf)
    want = (con.execute(coref.resolve_anaphora_sql()).df()
            .sort_values(["doc_id", "pos"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True)[want.columns].astype(str),
        want.astype(str), check_names=False)


def test_mcq_pipeline_zero_norm_doc_survives(spark):
    """A whitespace-only corpus doc embeds to the zero vector; the MCQ
    pipeline's cosine must yield NULL (zero-similarity), not throw
    DIVIDE_BY_ZERO under ANSI mode."""
    from kgp.ops import llm

    texts = ([f"question about topic {i} alpha beta or gamma" for i in range(4)]
             + ["   ", "alpha beta gamma delta topic words",
                "topic words overlap alpha beta"])
    pdf = _docs_pdf(texts)
    out = llm.mcq_answer_pipeline(spark.createDataFrame(pdf), n_mcq=4).collect()
    assert isinstance(out, list)  # reaching here = no ANSI crash


def test_curation_pipeline_c0_token_count_parity(spark):
    """curation_pipeline's n_tokens must count split(' ') like its DuckDB
    twin (string_split(chunk, ' ')) and like pack_chunks' own budget —
    bare str.split() would break on \\x1c inside a token and report one
    token more."""
    from kgp.ops import textseg

    texts = ["a\x1cb c d", "plain words here now", "x\vy z", "one two"]
    pdf = pd.DataFrame({"source": ["s0"] * len(texts),
                        "doc_id": range(len(texts)), "text": texts})
    got = (textseg.curation_pipeline(spark.createDataFrame(pdf),
                                     min_tokens=2, max_tokens=6, chunk_tokens=8)
           .toPandas().sort_values(["source", "chunk_idx"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", pdf)
    want = (con.execute(textseg.curation_pipeline_sql(
                min_tokens=2, max_tokens=6, chunk_tokens=8)).df()
            .sort_values(["source", "chunk_idx"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got.astype({"chunk_idx": "int64", "n_tokens": "int64"}),
        want.astype({"chunk_idx": "int64", "n_tokens": "int64"}),
        check_names=False)
    # the \x1c survives inside one token on both engines
    assert any("\x1c" in c for c in got["chunk"])


def test_dataset_tag_sees_nested_rewrite(tmp_path):
    """In-place rewrite of a part file INSIDE a table dir must change the
    cache tag (top-level dir stat alone cannot see it)."""
    import os

    from kgp.ops.common import dataset_tag as _dataset_tag

    d = tmp_path / "sfX"
    (d / "documents").mkdir(parents=True)
    f = d / "documents" / "part-0.parquet"
    f.write_bytes(b"aaaa")
    os.utime(f, ns=(1_000, 1_000))
    t1 = _dataset_tag(str(d))
    # same name, same size, same parent-dir entry — only content/mtime differ
    f.write_bytes(b"bbbb")
    os.utime(f, ns=(2_000, 2_000))
    assert _dataset_tag(str(d)) != t1


def test_prune_stale_tags_removes_only_same_dataset(tmp_path):
    """Prune keys on (basename, pathhash): regenerated content at the SAME
    path is evicted; a different dataset that merely shares the basename
    (e.g. /a/sfX vs /b/sfX) keeps its live cache."""
    from kgp.ops.common import prune_stale_tags as _prune_stale_tags

    kind = tmp_path / "graph"
    for tag in ["sfX-p1hash-aaa111", "sfX-p1hash-bbb222",
                "sfX-p2hash-ccc333", "sfY-p3hash-ddd444"]:
        (kind / tag).mkdir(parents=True)
        (kind / tag / "marker").write_text("x")
    _prune_stale_tags(str(kind / "sfX-p1hash-bbb222"))
    left = sorted(p.name for p in kind.iterdir())
    assert left == ["sfX-p1hash-bbb222", "sfX-p2hash-ccc333", "sfY-p3hash-ddd444"]


def test_dataset_tag_distinguishes_paths_and_follows_symlinks(tmp_path):
    import os

    from kgp.ops.common import dataset_tag as _dataset_tag

    # identical content at two paths -> different tags (prune-safety)
    for parent in ["a", "b"]:
        d = tmp_path / parent / "sfX" / "documents"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"same")
        os.utime(d / "part-0.parquet", ns=(1_000, 1_000))
    ta = _dataset_tag(str(tmp_path / "a" / "sfX"))
    tb = _dataset_tag(str(tmp_path / "b" / "sfX"))
    assert ta != tb

    # a table dir symlinked into a staging area: rewriting the staged part
    # file must change the tag (os.walk needs followlinks=True to see it)
    staged = tmp_path / "staging" / "documents"
    staged.mkdir(parents=True)
    f = staged / "part-0.parquet"
    f.write_bytes(b"v1")
    os.utime(f, ns=(1_000, 1_000))
    link_ds = tmp_path / "linked_sf"
    link_ds.mkdir()
    os.symlink(staged, link_ds / "documents", target_is_directory=True)
    t1 = _dataset_tag(str(link_ds))
    f.write_bytes(b"v2")
    os.utime(f, ns=(2_000, 2_000))
    assert _dataset_tag(str(link_ds)) != t1


def _pyeval_count(df) -> int:
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(
        r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|MapInPandas", plan))


def test_python_udf_pass_counts_are_pinned(spark):
    """Catalyst silently re-evaluates Python UDFs when an inner explode's
    inferred size>0/isnotnull filter is pushed below an exchange, or when a
    threshold filter on a UDF output splits into filter+project copies.
    For the non-persisted operators the static-plan Python-eval node count
    equals the execution count — pin it (the persisted dedup ops print
    their cached subtree once per consumer, so their textual counts are
    meaningless; see the accumulator test below for their mechanism)."""
    from kgp.ops import embed, textseg

    texts = ["alpha beta gamma delta epsilon"] * 6 + ["one two three four"]
    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    df = spark.createDataFrame(pdf)

    # embed components / T2 / T3: exactly ONE UDF pass (explode_once form)
    assert _pyeval_count(embed.embed_components(df, dim=8)) == 1
    assert _pyeval_count(textseg.t2_segments(df)) == 1
    assert _pyeval_count(embed.t3_segments(df)) == 1
    # minhash/simhash: the persist barrier is in place (signature/band
    # tables cached — the single UDF execution is pinned mechanically by
    # test_explode_once_and_persist_run_udf_once)
    mh_plan = (dedup.minhash_near_dup_pairs(df)
               ._jdf.queryExecution().executedPlan().toString())
    sh_plan = (dedup.simhash_near_dup_pairs(df)
               ._jdf.queryExecution().executedPlan().toString())
    assert "InMemoryTableScan" in mh_plan and "InMemoryTableScan" in sh_plan


def test_explode_once_and_persist_run_udf_once(spark):
    """Execution-count proof of the two anti-duplication idioms, measured
    with an accumulator inside the UDF (robust to plan printing):

    1. a bare inner posexplode of a UDF array through an exchange runs the
       UDF TWICE per row (the inferred Generate filter is pushed below) —
       the bad shape must stay detectable or this test proves nothing;
    2. common.explode_once runs it exactly once;
    3. a persisted UDF output self-joined twice evaluates once per row.
    """
    from pyspark.sql import functions as F

    from kgp.ops.common import explode_once

    n = 40

    def probe_df():
        acc = spark.sparkContext.accumulator(0)

        @F.udf("array<int>")
        def probe(x):
            acc.add(1)
            return [1, 2, 3]

        base = spark.range(n).repartition(4)
        return acc, base.select("id", probe("id").alias("arr"))

    # bad shape: inner explode -> double eval (regression-detector arm)
    acc, d = probe_df()
    d.select("id", F.posexplode("arr")).count()
    assert acc.value == 2 * n, f"inner explode no longer double-evals ({acc.value})"

    # explode_once: single eval
    acc, d = probe_df()
    explode_once(d, ["id"], "arr", ["pos", "v"]).count()
    assert acc.value == n, f"explode_once evaluated {acc.value} times for {n} rows"

    # persist barrier: two consumers, one evaluation
    acc, d = probe_df()
    p = d.persist()
    try:
        l = p.select("id", F.size("arr").alias("na"))
        r = p.select(F.col("id").alias("id2"), F.size("arr").alias("nb"))
        l.join(r, l["id"] == r["id2"]).count()
        assert acc.value == n, f"persisted UDF evaluated {acc.value} times for {n} rows"
    finally:
        p.unpersist()


def test_null_ts_ordering_parity(spark):
    """NULL-ts rows: Spark's ascending window default is NULLS FIRST while
    the pandas oracle (mergesort, NaT last) and DuckDB (NULLS LAST) sort
    them last — without the explicit asc_nulls_last the engines keep
    DIFFERENT dedup survivors and assign different event sequence numbers."""
    # (a) S1 dedup survivor on a (conv, text, turn_idx) tie with ts [NULL, t1]
    rows = [("c0", 1, "user", "dup text", None, None),
            ("c0", 1, "user", "dup text", None, pd.Timestamp("2025-01-01")),
            ("c0", 2, "user", "other", None, pd.Timestamp("2025-01-02"))]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    got = (s1.order_turns(spark.createDataFrame(pdf))
           .select("turn_idx", "text", "ts").toPandas()
           .sort_values("turn_idx").reset_index(drop=True))
    want = oracle.order_turns(pdf)
    assert list(got["turn_idx"]) == list(want["turn_idx"])
    # the survivor of the tie carries the NON-null ts on both engines
    assert pd.notna(got.loc[got["text"] == "dup text", "ts"].iloc[0])

    # (b) event sequence numbers with a null-ts event match DuckDB
    from kgp.ops import events as ev

    epdf = pd.DataFrame({
        "event_id": [1, 2, 3],
        "user_id": [7, 7, 7],
        "event_type": ["a", "b", "c"],
        "ts": [pd.Timestamp("2025-01-01"), None, pd.Timestamp("2025-01-02")],
        "value": [1.0, 2.0, 3.0],
        "props": ["x", "y", "z"],
    })
    got_seq = {r["event_id"]: r["seq"] for r in
               ev.stable_order(spark.createDataFrame(epdf)).collect()}
    con = duckdb.connect()
    con.register("events", epdf)
    want_seq = {eid: seq for _, seq, eid, _ in
                con.execute(ev.STABLE_ORDER_SQL).fetchall()}
    assert got_seq == want_seq
    assert got_seq[2] == 3  # the NULL-ts event sorts LAST on both engines
