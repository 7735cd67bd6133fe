"""Every ``localCheckpoint`` call in the package has been measured. A lazy
checkpoint of an adaptive plan runs that plan's shuffle stages as jobs
while the DataFrame is built, so a site pays for itself only where its
readers would otherwise re-derive the relation. Each site below names
its row in COVERAGE.md's "localCheckpoint sites" table (checkpoint vs
identity, sf0.1 and gen-sf1); a new site fails here until it has a row.

Pure AST scan, no Spark."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "apache_flink_essentials_spark"

# "module::enclosing function" -> (calls, its COVERAGE.md row)
EXPECTED = {
    "operators/curation.py::dsir_weights": (1, "not reached at sf0.1 (large path)"),
    "operators/curation.py::perplexity_buckets": (1, "not reached at sf0.1 (large path)"),
    "operators/dedup.py::simhash_dup_pairs": (1, "dedup_simhash"),
    "operators/dedup.py::simhash_best_match": (1, "dedup_simhash_best"),
    "operators/dedup.py::simhash_dedup_against_corpus": (1, "dedup_simhash_incremental"),
    "operators/dedup.py::connected_components": (2, "llm_curation sites; CC rounds (loop)"),
    "operators/dedup.py::containment_pairs": (1, "dedup_containment, dedup_containment_best"),
    "operators/graph.py::pagerank": (1, "loop, distributed path"),
    "operators/graph.py::pagerank_fixedpoint": (1, "loop, distributed path"),
    "operators/graph.py::degree_assortativity": (2, "graph_assortativity"),
    "operators/graph.py::triangle_stats": (2, "llm_curation sites"),
    "operators/graph.py::neighbor_overlap_pairs": (1, "graph_supplier_overlap"),
    "operators/graph.py::modularity": (1, "graph_modularity"),
    "operators/graph.py::khop_reach": (4, "loop"),
    "operators/graph.py::kcore": (2, "loop"),
    "operators/graph.py::hits_fixedpoint": (2, "loop"),
    "operators/patterns.py::association_rules": (1, "not reached at sf0.1 (large path)"),
    "operators/reco.py::item_cooccurrence": (1, "reco_item_cooccurrence"),
    "operators/sketches.py::bloom_fpr_audit": (3, "sketch_bloom_fpr"),
    "operators/sketches.py::hll_set_ops": (1, "sketch_hll_setops"),
    "operators/sketches.py::kmv_jaccard._hashes": (1, "sketch_kmv_jaccard"),
    "operators/text.py::bm25_rank": (1, "text_bm25"),
    "operators/text.py::unigram_logprob_from_tokens": (1, "not reached at sf0.1 (large path)"),
    "operators/text.py::kneser_ney_bigrams": (1, "not reached at sf0.1"),
    "operators/text.py::js_divergence_by_group": (1, "text_js_divergence"),
    "operators/timeseries.py::acf_from_binned": (1, "ts_acf"),
    "operators/timeseries.py::seasonality_strength": (1, "ts_seasonality_strength"),
    "operators/transform.py::global_row_number": (1, "not reached at sf0.1"),
    "operators/transform.py::global_prefix_sum": (1, "not reached at sf0.1 (large path)"),
    "operators/transform.py::markov_stationary": (1, "loop"),
    "operators/vector.py::mmr_diversify_exact": (3, "loop"),
    "registry/q_curation_mm.py::_pq": (1, "vec_pq_search"),
    "registry/q_curation_mm.py::_ivfpq": (1, "vec_ivfpq_search"),
    "registry/q_northstar.py::_ivf": (1, "vec_ivf_search"),
    "registry/q_round8_9a.py::_er_incremental_q": (1, "er_assign_incremental"),
    "registry/q_tpch.py::_q11": (1, "q11_important_stock"),
}


def checkpoint_sites(source: str) -> list[str]:
    """The enclosing function (dotted through nested functions and
    classes, ``""`` at module level) of every ``.localCheckpoint(...)``
    call in ``source``, in source order."""
    found: list[tuple[int, str]] = []

    def walk(node: ast.AST, scope: tuple[str, ...]) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                walk(child, scope + (child.name,))
                continue
            if (isinstance(child, ast.Call) and isinstance(child.func, ast.Attribute)
                    and child.func.attr == "localCheckpoint"):
                found.append((child.func.end_lineno, ".".join(scope)))
            walk(child, scope)

    walk(ast.parse(source), ())
    return [scope for _, scope in sorted(found)]


def test_guard_names_each_call_by_enclosing_function():
    src = (
        "x = df.localCheckpoint()\n"
        "def f(df):\n"
        "    def g(d):\n"
        "        return d.distinct().localCheckpoint(eager=False)\n"
        "    return g(df).localCheckpoint(eager=True)\n"
        "class C:\n"
        "    def m(self, df):\n"
        "        return df.checkpoint()\n"
    )
    assert checkpoint_sites(src) == ["", "f.g", "f"]


def test_every_checkpoint_site_is_measured():
    found = Counter(
        f"{path.relative_to(PACKAGE)}::{scope}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for scope in checkpoint_sites(path.read_text())
    )
    expected = Counter({site: calls for site, (calls, _) in EXPECTED.items()})
    assert found == expected, (
        "localCheckpoint sites changed; measure each new site against "
        "identity and add its COVERAGE.md row: "
        f"added {dict(found - expected)}, gone {dict(expected - found)}")


def test_every_checkpoint_site_has_a_coverage_row():
    coverage = (ROOT / "COVERAGE.md").read_text()
    assert [site for site in EXPECTED if f"`{site}`" not in coverage] == []
