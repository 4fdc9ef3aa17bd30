"""Physical-plan regression tests — the properties that keep the engine
fast at 100 TB (SURVEY.md §4): pruning, pushdown, partition pruning,
broadcast strategy. These fail if a refactor silently degrades the plan.
"""

import re

import pytest
from pyspark.sql import functions as F

from neosemantics_spark.plans.explain import (
    formatted_plan,
    has_broadcast,
    partition_filters,
    pushed_filters,
    read_schemas,
)


def test_column_pruning_reaches_scan(spark, sf_dir):
    from neosemantics_spark.operators import dedup

    # another module may have cached this exact scan → InMemoryTableScan
    # would hide the parquet ReadSchema we're asserting on
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(dedup.exact_dup_groups(docs))
    schemas = read_schemas(plan)
    # only doc_id + text are read, not lang/source/n_chars
    assert schemas and all("n_chars" not in s and "source" not in s for s in schemas)


def test_predicate_pushdown_on_queries(spark, sf_dir):
    from neosemantics_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = formatted_plan(similarity.brute_force_topk(emb, [0, 1], k=3))
    pf = pushed_filters(plan)
    assert any("In(vec_id" in f for f in pf), pf
    # queries side broadcast, corpus side streamed
    assert has_broadcast(plan)


def test_partition_pruning_on_edges(spark, tmp_path):
    import pandas as pd

    from neosemantics_spark.config import KEEP, GraphConfig
    from neosemantics_spark.operators.materialize import (
        materialize,
        transform_triples,
        write_edges_partitioned,
    )
    from neosemantics_spark.sources.datagen import fixture_corpus
    from neosemantics_spark.sources.parse import extract_triples

    cfg = GraphConfig(handle_vocab_uris=KEEP)
    tb = materialize(transform_triples(extract_triples(fixture_corpus(spark)), cfg), cfg)
    out = str(tmp_path / "edges")
    write_edges_partitioned(tb.edges, out, cfg)
    filtered = spark.read.parquet(out).filter(F.col("rel") == "http://example.org/child")
    plan = formatted_plan(filtered)
    assert any("rel" in f for f in partition_filters(plan)), plan[:500]
    assert filtered.count() == 2


def test_ivf_and_lsh_plan_shape(spark, sf_dir):
    """IVF assignment broadcasts the centroid set and aggregates the
    argmin (no row_number sort-shuffle); the LSH bucket table contains no
    interpreted higher-order functions (ArrayTransform/ArrayAggregate)."""
    from neosemantics_spark.operators import similarity

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p1 = formatted_plan(similarity.ivf_assign(emb, 8))
    assert has_broadcast(p1)
    assert "Window" not in p1  # argmin via min(struct), not row_number
    p2 = formatted_plan(similarity.lsh_bucket_table(emb, 8, 2))
    assert "ArrayTransform" not in p2 and "ArrayAggregate" not in p2, (
        "LSH bucket table regressed to interpreted higher-order functions"
    )


def test_jaccard_candidate_path_is_pair_centric(spark, sf_dir):
    """With a candidate set, Jaccard verification must count
    intersections per candidate pair via size(array_intersect) over
    per-doc shingle-hash sets — NO join may be keyed on the shingle
    (string or hashed): a shingle-keyed posting self-join is
    Sum(|posting|^2) on hot shingles (1400 s at local[4] on the 500k
    stress corpus) and a row-per-(pair, shingle) join + groupBy(a, b)
    spills its pair-keyed partial agg (~280 s flat across cores). Both
    graveyard shapes are locked out here."""
    from neosemantics_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cands = dedup.minhash_lsh_candidates(docs, num_hashes=8, bands=4)
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.5, candidates=cands)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    for m in re.finditer(r"Join Inner, \(*(.*)\)*\n", plan):
        cond = m.group(1)
        assert "shingle" not in cond and "sh_h#" not in cond, cond
    assert "array_intersect" in plan


def test_parse_filter_prunes_source_columns(spark, sf_dir):
    """Filters on provenance columns stay upstream of the Python stage
    where possible; the source scan never reads more than the 5 columns."""
    from neosemantics_spark.sources.datagen import src_files_from_documents
    from neosemantics_spark.sources.parse import extract_triples

    src = src_files_from_documents(spark, sf_dir, "N-Triples")
    plan = formatted_plan(extract_triples(src))
    schemas = read_schemas(plan)
    assert schemas
    # the documents scan feeds only the columns the content derivation uses
    assert all("embedding" not in s for s in schemas)


def test_shacl_node_set_semi_join_below_cardinality_agg(spark):
    """validate(node_set) must prune focus nodes BEFORE the cardinality
    aggregation — the node-set semi-join has to sit in the Aggregate's
    subtree, not as a post-filter on results. Tree prints root-first, so
    the Aggregate must appear before a LeftSemi in the optimized plan
    string."""
    import pandas as pd

    from neosemantics_spark.config import ARRAY, KEEP, GraphConfig
    from neosemantics_spark.operators.materialize import materialize, transform_triples
    from neosemantics_spark.sources.parse import extract_triples
    from neosemantics_spark.validation.shacl import ShaclValidator, compile_shapes

    data = """@prefix ex: <http://example.org/> .
ex:a a ex:T ; ex:name "x" .
ex:b a ex:T .
"""
    shapes_doc = """@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:name ; sh:minCount 1 ] .
"""
    src = spark.createDataFrame(
        pd.DataFrame(
            [{"repo": "r", "path": "d.ttl", "commit": "c" * 40, "lang": "Turtle", "content": data}]
        )
    )
    cfg = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY)
    tb = materialize(transform_triples(extract_triples(src), cfg), cfg)
    v = ShaclValidator(tb)
    shapes = compile_shapes(shapes_doc)
    node_set = spark.createDataFrame(pd.DataFrame({"uri": ["http://example.org/b"]}))
    plan = v.validate(shapes, node_set)._jdf.queryExecution().optimizedPlan().toString()
    first_agg = plan.find("Aggregate")
    assert first_agg >= 0, plan[:800]
    assert "LeftSemi" in plan[first_agg:], (
        "node-set semi-join is not below the cardinality aggregation:\n" + plan[:1500]
    )


def test_chunking_is_narrow(spark, sf_dir):
    """chunk_documents must stay a map-only pass — no Exchange in the
    plan (chunks inherit the parent doc's partition at 100 TB)."""
    from neosemantics_spark.operators import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = formatted_plan(text.chunk_documents(docs, 20, 5))
    assert "Exchange" not in plan, plan[:800]
    plan2 = formatted_plan(text.redact_pii(docs))
    assert "Exchange" not in plan2 and "BatchEvalPython" not in plan2


def test_shacl_prop_check_prunes_partitioned_props(spark, tmp_path):
    """With node_props written via write_node_props_partitioned, the
    SHACL plan's props scan carries a partition filter on prop — the
    storage half of the delta-validation win."""
    import pandas as pd

    from neosemantics_spark.config import ARRAY, KEEP, GraphConfig
    from neosemantics_spark.operators.materialize import (
        materialize,
        transform_triples,
        write_node_props_partitioned,
    )
    from neosemantics_spark.sources.parse import extract_triples
    from neosemantics_spark.validation.shacl import ShaclValidator, compile_shapes

    data = """@prefix ex: <http://example.org/> .
ex:a a ex:T ; ex:name "x" ; ex:other "y" .
"""
    src = spark.createDataFrame(
        pd.DataFrame(
            [{"repo": "r", "path": "d.ttl", "commit": "c" * 40, "lang": "Turtle", "content": data}]
        )
    )
    cfg = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY)
    tb = materialize(transform_triples(extract_triples(src), cfg), cfg)
    out = str(tmp_path / "props")
    write_node_props_partitioned(tb.node_props, out, cfg)
    tb2 = tb._replace(node_props=spark.read.parquet(out))
    shapes = compile_shapes(
        """@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <http://example.org/> .
ex:S a sh:NodeShape ; sh:targetClass ex:T ;
  sh:property [ sh:path ex:name ; sh:minCount 1 ] .
"""
    )
    plan = formatted_plan(ShaclValidator(tb2).validate(shapes))
    assert any("prop" in f for f in partition_filters(plan)), plan[:1200]


def test_shacl_plan_does_not_grow_with_constraints(spark):
    """One-plan SHACL: 40 property constraints run in as many Spark jobs
    and exchanges as 4 of the same kinds — the plan grows with the kinds
    of check, not with their number."""
    import pandas as pd

    from neosemantics_spark.config import ARRAY, KEEP, GraphConfig
    from neosemantics_spark.operators.materialize import materialize, transform_triples
    from neosemantics_spark.plans.explain import exchange_count
    from neosemantics_spark.sources.parse import extract_triples
    from neosemantics_spark.validation.shacl import ShaclValidator, compile_shapes

    data = "@prefix ex: <http://example.org/> .\n" + "".join(
        f'ex:n{i} a ex:T ; ex:o{i % 3} ex:n{(i + 1) % 12} ; '
        + " ; ".join(f'ex:p{k} "{"x" * (i % 7)}{k}"' for k in range(i % 10))
        + " .\n"
        for i in range(12)
    )
    src = spark.createDataFrame(
        pd.DataFrame(
            [{"repo": "r", "path": "d.ttl", "commit": "c" * 40, "lang": "Turtle", "content": data}]
        )
    )
    cfg = GraphConfig(handle_vocab_uris=KEEP, handle_multival=ARRAY)
    tb = materialize(transform_triples(extract_triples(src), cfg), cfg, cache_intermediate=True)
    for df in tb[:3]:
        df.count()

    def shapes(n_paths):
        props = "".join(
            f"  sh:property [ sh:path ex:p{k} ; sh:minCount 1 ] ;\n"
            f"  sh:property [ sh:path ex:p{k} ; sh:datatype xsd:integer ] ;\n"
            f"  sh:property [ sh:path ex:p{k} ; sh:maxLength 4 ] ;\n"
            f"  sh:property [ sh:path ex:o{k % 3} ; sh:class ex:T ] ;\n"
            for k in range(n_paths)
        )
        return compile_shapes(
            "@prefix sh: <http://www.w3.org/ns/shacl#> .\n"
            "@prefix ex: <http://example.org/> .\n"
            "@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .\n"
            "ex:S a sh:NodeShape ; sh:targetClass ex:T ;\n" + props.rstrip(" ;\n") + " .\n"
        )

    sc = spark.sparkContext
    seen = []
    for n_paths in (1, 10):
        s = shapes(n_paths)
        assert len(s.props) == 4 * n_paths
        res = ShaclValidator(tb).validate(s)
        n_exchanges = exchange_count(res)
        group = f"shacl-d3-{n_paths}"
        sc.setJobGroup(group, group)
        try:
            n_rows = len(res.collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        seen.append((len(sc.statusTracker().getJobIdsForGroup(group)), n_exchanges, n_rows))
    assert seen[0][:2] == seen[1][:2], seen
    assert seen[1][2] > seen[0][2], seen


def _expression_nodes(df):
    """Expression nodes in the analyzed plan (one treeString line each)."""
    n, stack = 0, [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        exprs = node.expressions()
        n += sum(len(exprs.apply(i).treeString().splitlines()) for i in range(exprs.size()))
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return n


def test_prefix_plans_do_not_grow_with_vocabulary(spark):
    """SHORTEN import and export resolve prefixes by one constant-map
    lookup: the analyzed plans of transform_triples and graph_to_triples
    hold as many expression nodes with 200 namespaces as with 10."""
    from neosemantics_spark.config import SHORTEN, GraphConfig
    from neosemantics_spark.operators.export import graph_to_triples
    from neosemantics_spark.operators.materialize import materialize, transform_triples
    from neosemantics_spark.operators.prefixes import build_prefix_map, collect_namespaces
    from neosemantics_spark.sources.datagen import fixture_corpus
    from neosemantics_spark.sources.parse import extract_triples

    cfg = GraphConfig(handle_vocab_uris=SHORTEN)
    raw = extract_triples(fixture_corpus(spark))
    used = collect_namespaces(raw)
    seen = []
    for n_extra in (10, 200):
        ns = build_prefix_map(used + [f"http://v{i}.example.org/ns#" for i in range(n_extra)])
        t = transform_triples(raw, cfg, ns)
        g = graph_to_triples(materialize(t, cfg), cfg, {p: n for n, p in ns.items()})
        seen.append((len(ns), _expression_nodes(t), _expression_nodes(g)))
    assert seen[0][0] < seen[1][0], seen
    assert seen[0][1:] == seen[1][1:], seen


def test_tokenizer_materialized_once_in_shingles(spark, sf_dir):
    """shingle_set / top_ngrams / decontaminate must evaluate the
    regex+split tokenizer ONCE per row in its own projection. If
    CollapseProject ever re-inlines it into the n-gram transform, the
    tokenizer re-runs per transform element (measured 4x slowdown on the
    decontam pipeline at sf0.1) and the optimized plan shows one
    regexp_replace per reference instead of one per scan side."""
    from neosemantics_spark.operators import datasets, search

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df, sides in (
        (datasets.shingle_set(docs, n=4), 1),
        (search.top_ngrams(docs, n=2, k=5), 1),
        (
            datasets.decontaminate(
                docs.filter(F.col("doc_id") % 2 == 0),
                docs.filter(F.col("doc_id") % 2 == 1),
                n=4,
            ),
            2,
        ),
    ):
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("regexp_replace") == sides, opt[:1500]


def test_tokenizer_materialized_once_in_minhash(spark, sf_dir):
    """dedup's shingle consumers project the word array before the
    shingle transform (shingle_rows) — the split/trim/lower tokenizer
    appears once per scan branch in the optimized plan, not once per
    shingle window."""
    from neosemantics_spark.operators import dedup, text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (
        dedup.minhash_lsh_candidates(docs, num_hashes=4, bands=2),
        text.fingerprints(docs),
    ):
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("split(") == 1, opt[:1500]


def test_tokenizer_materialized_once_in_text_features(spark, sf_dir):
    """language_id / quality_features / token_counts project the token
    array once; their multiple feature expressions reference the
    attribute instead of re-running the tokenizer per feature."""
    from neosemantics_spark.operators import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for fn in (text.language_id, text.quality_features, text.token_counts):
        opt = fn(docs)._jdf.queryExecution().optimizedPlan().toString()
        assert opt.count("split(") == 1, (fn.__name__, opt[:1200])


def test_dataset_ops_plan_shapes(spark, sf_dir):
    """hash_split / stratified_sample are pure narrow column programs (no
    Exchange anywhere); decontaminate broadcasts the benchmark shingle
    side."""
    from neosemantics_spark.operators import datasets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (
        datasets.hash_split(docs),
        datasets.stratified_sample(docs, {"en": 0.5}, default_fraction=0.1),
        # token_budget_sample's returned frame is the same pure filter —
        # its one aggregate ran driver-side at call time (#strata rows)
        datasets.token_budget_sample(docs, {"en": 1000, "de": 500}),
    ):
        plan = formatted_plan(df)
        assert "Exchange" not in plan, plan[:1200]
    dec = datasets.decontaminate(
        docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)
    )
    assert has_broadcast(formatted_plan(dec))
    # The hint is size-gated: above the limit no broadcast HINT is
    # attached (an explicit hint would OVERRIDE size estimates and
    # force-broadcast an outsized eval-shingle set). Catalyst may still
    # pick broadcast from its own size estimate on this tiny corpus —
    # that is the point: the decision returns to the optimizer. Assert
    # on the analyzed logical plan, where a hint survives as
    # ResolvedHint/UnresolvedHint.
    def hinted(df):
        plan = df._jdf.queryExecution().analyzed().toString()
        return "Hint" in plan

    assert hinted(dec)
    big = datasets.decontaminate(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        broadcast_limit=1,
    )
    assert not hinted(big)
