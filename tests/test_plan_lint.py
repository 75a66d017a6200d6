"""Repo-wide physical-plan lint over the ENTIRE query catalog.

Every `queries()` entry is planned (at sf0.001) and its physical plan
checked for scale-killers:

- `CartesianProduct` — unbounded all-pairs; never acceptable.
- `BatchEvalPython` — row-at-a-time Python UDF in the plan; the
  engine's contract is JVM expressions + Arrow-batched pandas only.
- `BroadcastNestedLoopJoin` — only allowed where a *bounded* side is
  deliberately broadcast (ANN query sets, 1-row count factors);
  anything else is an accidental non-equi join.

This is the cheap structural half of the scale story: the expensive
half (does it actually hold at volume) lives in
tools/scale_validation.py and tools/corpus_scale_validation.py.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

#: queries that intentionally broadcast a bounded side into a
#: non-equi/cross join: ANN queries broadcast the (small) query set
#: against the corpus; TF-IDF cross-joins a single aggregate row
BNLJ_ALLOWED = {
    "ann_cosine_topk",  # query set broadcast, contract: queries ≪ corpus
    "ann_pq_exact_topk",  # same brute-force shape over grid-decoded vectors
    "ann_ivf_topk",  # probed query set broadcast
    "ann_pq_recall",  # exact twin inside is brute_force_topk (bounded query set)
    "ann_ivfpq_recall",  # same — the recall row compares against the exact twin
    "ann_opq_recall",  # same — exact twin is brute_force_topk (bounded query set)
    "ann_pq_rerank_exact_topk",  # grid shortlist is brute_force_topk (bounded queries)
    "dedup_embedding_cosine",  # exact O(n²) oracle-baseline variant, documented
    "corpus_tfidf_top3",  # 1-row n_docs factor
    "quality_lm_scores",  # 1-row vocabulary-size factor
    "quality_kn_scores",  # 1-row bigram-type-total factor
    "quality_kn3_scores",  # order-3 lm_kn_scores_order: 1-row total + per-level discount triples
    "quality_kn5_scores",  # same shape at order 5: 1-row total + per-level discount triples
    "quality_kn5_apply_heldout",  # lm_kn_score: 1-row discount triples + 1-row u/v totals
    "quality_kn5_heldout_persisted",  # same shape through the persisted tower
    "quality_kn5_heldout_ppl_buckets",  # same heldout scorer + ntile tail
    "pipeline_ccnet_buckets",  # composes lm_bigram_scores: same 1-row vocab factor
    "pipeline_ccnet_curate",  # same composition over the extracted text
    "pipeline_ccnet_curate_kn",  # kn5 tower: 1-row total + per-level discount triples
    "pipeline_ccnet_curate_trained",  # same 1-row vocab factor via lm_bigram_scores
    "pipeline_ccnet_curate_trained_e2e",  # same composition over the extracted text
    "pipeline_ccnet_cutoff_buckets",  # same composition + broadcast cutoff dim
    "pipeline_pagerank",  # 1-row dangling-mass scalar factor per round
    "pipeline_mixture_temperature",  # 1-row Σ n^alpha + N-total factor (temperature_mixture)
    "meta_cardinality_hll_md5",  # 1-row estimate × 1-row exact-count factor
    "corpus_bm25_search",  # 1-row (N, avgdl) corpus-stats factor
    "pipeline_dsir_weights",  # 1-row gram-count totals factor
    "tpch_idle_rich_customers",  # 1-row global-average-balance scalar factor
    "tpch_important_stock",  # 1-row global value-threshold scalar factor
    "corpus_cdx_zipnum_lookup",  # probe set broadcast, contract: probes ≪ blocks (ANN query-set shape)
}


def _catalog():
    from opentsdb_aura_spark.catalog import SPARK_QUERIES

    return sorted(SPARK_QUERIES)


@pytest.fixture(scope="module")
def frames(spark):
    from opentsdb_aura_spark.catalog import SPARK_QUERIES

    return {name: fn(spark, SF_DIR) for name, fn in SPARK_QUERIES.items()}


@pytest.fixture(scope="module")
def plans(frames):
    return {
        name: df._jdf.queryExecution().executedPlan().toString()
        for name, df in frames.items()
    }


@pytest.mark.parametrize("name", _catalog())
def test_flat_output_schema(frames, name):
    """The driver's correctness gate hashes result rows cell-by-cell;
    Python list/dict cells are unhashable, so a top-level ARRAY/MAP/
    STRUCT column silently turns a correct query into a harness red
    (this bit corpus_anchor_text_index in round 11).  Catalog contract:
    every query's OUTPUT schema is flat scalars — operators may return
    nested types, but the catalog projection must serialize them
    (array_join / to_json) at the boundary."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in frames[name].schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, f"{name} outputs nested (driver-unhashable) columns: {bad}"


@pytest.mark.parametrize("name", _catalog())
def test_no_cartesian_product(plans, name):
    assert "CartesianProduct" not in plans[name], f"{name} plans a cartesian product"


@pytest.mark.parametrize("name", _catalog())
def test_no_row_python_udf(plans, name):
    assert "BatchEvalPython" not in plans[name], f"{name} plans a row-at-a-time Python UDF"


@pytest.mark.parametrize("name", _catalog())
def test_nested_loop_joins_are_intentional(plans, name):
    if name in BNLJ_ALLOWED:
        return
    assert "BroadcastNestedLoopJoin" not in plans[name], (
        f"{name} plans a BroadcastNestedLoopJoin outside the allowed set"
    )


def test_no_forced_broadcast_of_unbounded_frames():
    """Source lint: `F.broadcast(...)` is a hint that bypasses Spark's
    size check, so it is only allowed on frames whose size is BOUNDED by
    construction (fixed TPC-H dims, probe/query sets, 1-row factors,
    per-block offset tables).  Series-dimension-derived frames are
    O(total series) — tens of millions of rows at 100 TB under a
    match-all filter — and must let AQE size-pick instead."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "opentsdb_aura_spark"
    allowed = {
        "nation",  # 25 rows, fixed
        "region",  # 5 rows, fixed
        "q",  # ANN query set: contract queries ≪ corpus
        "qb",  # ANN banded query set
        "q_probed",  # IVF probed query set
        "p_sh",  # contamination probe shingles (benchmark-sized)
        "p_size",  # probe sizes (same bound)
        "vocab",  # 1-row vocabulary-size factor
        "types",  # 1-row bigram-type-total factor (quality_kn_scores)
        "blocks",  # per-block prefix sums: rows = input partitions
        "totals",  # 1-row gram-count factor (dsir_weights)
        "avg_bal",  # 1-row global-average-balance scalar (tpch_idle_rich_customers)
        "total_val",  # 1-row global value-threshold scalar (tpch_important_stock)
        "winners",  # summarizer top-k winners: rows <= k
        "cutoffs",  # per-language quantile thresholds: rows = O(languages)
        "dangling",  # 1-row dangling-mass scalar per PageRank round
        "u_total",  # 1-row type-total factor (lm_kn_scores_order)
        "dk",  # 1-row per-level discount triple (lm_kn_scores_order)
        "dd",  # 1-row per-level discount triples dict (lm_kn_score)
        "tot",  # 1-row (u, v, level-1 gamma masses) totals frame (lm_kn_score)
        "bloom",  # Bloom word table: O(n_bits/63) rows by construction
        "probe_set",  # ZipNum lookup probe set: contract probes ≪ blocks (ANN query-set shape)
        "offsets",  # per-range-partition rank offsets: rows <= num_partitions (suffix.global_dense_rank)
        "rates",  # per-domain derived keep rates: rows = O(domains) (corpus.temperature_mixture)
    }
    hits = []
    for py in root.rglob("*.py"):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            for m in re.finditer(r"F\.broadcast\((\w+)", line):
                if m.group(1) not in allowed:
                    hits.append(f"{py.name}:{i}: {m.group(0)}")
    assert not hits, (
        "forced broadcast of a frame not in the bounded-size allowlist "
        f"(series_dim-derived frames must use AQE): {hits}"
    )


def test_python_row_passes_go_through_rowpass():
    """Source lint: every per-row Python stage under operators/ is a
    front end of ``rowpass.map_rows`` / ``rowpass.pack_groups`` (one
    batch loop, one exact frame build, one error-row contract).  Only
    passes that vectorise over a whole Arrow batch call
    ``mapInPandas``/``applyInPandas`` themselves."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "opentsdb_aura_spark" / "operators"
    allowed = {
        "rowpass.py",  # the one row pass
        "sketch.py",  # summarize: pandas groupby-size + nlargest over each whole batch
        "similarity.py",  # ADC scoring: one numpy table lookup over each whole batch of codes
    }
    hits = []
    for py in sorted(root.glob("*.py")):
        if py.name in allowed:
            continue
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(r"\.(mapInPandas|applyInPandas)\(", line):
                hits.append(f"{py.name}:{i}: {line.strip()}")
    assert not hits, f"per-row Python pass outside rowpass.map_rows/pack_groups: {hits}"


def test_register_rejects_duplicate_names():
    """A second registration under a taken name raises instead of
    silently replacing the first query or its oracle, and leaves the
    registry as it was."""
    from opentsdb_aura_spark.catalog import ORACLES, SPARK_QUERIES, register

    for name in ("pipeline_ccnet_curate", "text_lang_id_persisted"):  # with and without its own oracle SQL
        before = (SPARK_QUERIES[name], ORACLES.get(name))
        with pytest.raises(ValueError, match=name):
            register(name, "SELECT 1 AS x")(lambda spark, sf_dir: None)
        with pytest.raises(ValueError, match=name):
            register(name)(lambda spark, sf_dir: None)
        assert (SPARK_QUERIES[name], ORACLES.get(name)) == before


def test_fixture_chains_written_once():
    """Source lint: the crawl page chain (WARC → HTTP split with body →
    doc_id parsed from the record id) and the doc-graph edge loop are
    built only by their shared helpers; every catalog query that needs
    one calls the helper."""
    import ast
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent / "opentsdb_aura_spark" / "queries"
    chains = {
        "crawl page chain": (re.compile(r"with_body=True|urn:uuid:doc-\("), {"_crawl_pages"}),
        "doc-graph edge loop": (
            re.compile(r"\(7, 1\), \(13, 2\), \(23, 3\)|F\.col\(\"doc_id\"\) \* 13 \+ 2"),
            {"_doc_graph_edges", "_host_page_edges"},
        ),
    }
    hits = []
    for py in sorted(root.glob("*.py")):
        src = py.read_text()
        for fn in ast.walk(ast.parse(src)):
            if not isinstance(fn, ast.FunctionDef):
                continue
            body = ast.get_source_segment(src, fn)
            for chain, (pat, owners) in chains.items():
                if fn.name not in owners and pat.search(body):
                    hits.append(f"{py.name}:{fn.lineno}: {fn.name} builds the {chain}")
    assert not hits, f"fixture chain built outside its shared helper: {hits}"


def test_queries_import_only_what_they_use():
    """Source lint: no ``queries/`` module imports a name it never uses.
    The module-level imports of ``base.py`` (re-exported to the domain
    modules through ``from base import *``) and of ``__init__.py`` are
    exempt."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "opentsdb_aura_spark" / "queries"
    hits = []
    for py in sorted(root.glob("*.py")):
        tree = ast.parse(py.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        exempt = set(tree.body) if py.name in ("base.py", "__init__.py") else set()
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Import, ast.ImportFrom)) or node in exempt:
                continue
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for a in node.names:
                name = (a.asname or a.name).split(".")[0]
                if a.name != "*" and name not in used:
                    hits.append(f"{py.name}:{node.lineno}: {name}")
    assert not hits, f"unused imports in queries/: {hits}"
