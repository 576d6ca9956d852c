"""Reach guard: every public function and class in ``asag_spark/`` is
reached from a workload, or is named in ``KEEP`` with its reason.

The closure is name-based over the AST. Its roots are what runs the
engine: ``entry()`` and ``queries()`` in ``__spark_entry__.py``, the
pipelines (``asag_spark/plans/``), the streaming jobs
(``asag_spark/streaming/``), the benchmark (``perfbench/``),
``tools/``, ``bench.py``, and the module-level code of every package
module (it runs on import). ``demoted_queries()`` is
not a root. A reached definition adds every name its body mentions,
so a name reaches every definition that shares it; the scan can only
over-approximate reach (a local variable named like a kept function,
say ``token``, reaches it and fails the test the other way). An
operator that only tests or the demoted registry call shows up as
unreached, and this test fails until it is deleted or given a reason
here.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "asag_spark"

KEEP = {
    # geo and tiling operators of the demoted registry, and what only
    # they use (the delete rule applies to the non-geo families)
    "geohash": "g_geohash",
    "snap_to_lines": "g_line_snap",
    "fixture_lines": "g_line_snap's route geometries",
    "zone_polyfill": "g_polyfill_stats",
    "cell_center_exact": "zone_polyfill's cell centres",
    "snap_nearest_zone": "g_snap_nearest_zone",
    "spatial_clusters": "g_spatial_clusters",
    "eps_pairs": "spatial_clusters' pair search",
    "within_distance_join": "g_distance_join",
    "smooth_cell_counts": "g_cell_smooth",
    "rasterize_xyz": "q_xyz_raster",
    "vectorize_xyz": "q_xyz_vectorize",
    "mvt_coords": "q_mvt_coords",
    # event, text and dedup operators of the demoted registry that only
    # it and their own tests reach; ROADMAP item 6 deletes them next
    "asof_join_pandas": "q_asof_pandas",
    "topk_per_user": "q_topk_per_user",
    "range_join_counts": "q_range_join",
    "funnel_steps": "q_funnel",
    "retention_cohorts": "q_retention_cohorts",
    "token_count": "t_token_count",
    "corpus_stats": "t_corpus_stats",
    "repetition_stats": "t_repetition",
    "train_shuffle": "t_train_shuffle",
    "stratum_cap": "t_lang_cap",
    "temperature_resample": "t_temperature_resample",
    "chunk_windows": "t_chunk_windows",
    "dsir_weights": "t_dsir_weights",
    "weighted_sample": "t_weighted_sample",
    "contamination_check_bloom": "t_contamination_bloom",
    "bloom_build": "contamination_check_bloom's Bloom filter",
    "bloom_to_array": "contamination_check_bloom's Bloom filter",
    "bloom_prefilter": "contamination_check_bloom's Bloom filter",
    "bloom_semi_join_prefilter": "contamination_check_bloom's Bloom filter",
    "paragraph_dedup": "t_paragraph_dedup",
    "boilerplate_removal": "t_boilerplate",
    "keep_best_per_cluster": "t_dedup_keep_best",
    # NeTEx ingest: the distributed file scan beside the columnar source
    "docs_from_netex_files": "README row S2, tests/test_netex.py",
    # references that tests of live operators check against
    "sq8_topk": "t_sq8_topk; inline reference for sq8_topk_encoded",
    "ivf_probe_cells": "checks ivf_topk_indexed's pruning in tests",
    "feature_collection": "reference for the streamed GeoJSON sink",
    # test-only names kept on purpose
    "write_clustered": "README row S7, dedup/session layout docs",
    "write_bucketed": "README row S7, dedup/session layout docs",
    "cell_id_at": "the parent_id test asserts levels through it",
    "cell_level": "the parent_id test asserts levels through it",
    "parent_id": "s2 hierarchy tests",
    "token": "s2 face-token tests",
    "cover_bbox": "scalar reference for the batched cover",
    "cell_center": "test reference for hex cells",
    "parse_cell": "test reference for hex cells",
}


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _reach() -> tuple[set[str], dict[str, list[str]]]:
    """(reached names, public package definitions by name)."""
    defs: dict[str, list[ast.AST]] = {}
    public: dict[str, list[str]] = {}
    roots: list[ast.AST] = []
    root_defs: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        mod = _parse(path)
        rel = path.relative_to(REPO).as_posix()
        whole = rel.startswith(("asag_spark/plans/", "asag_spark/streaming/"))
        for node in mod.body:
            if isinstance(node, _DEF):
                defs.setdefault(node.name, []).append(node)
                if not node.name.startswith("_"):
                    public.setdefault(node.name, []).append(rel)
                if whole:
                    root_defs.add(node.name)
            else:
                roots.append(node)
    entry = _parse(REPO / "__spark_entry__.py")
    for node in entry.body:
        if isinstance(node, _DEF):
            if node.name != "demoted_queries":
                defs.setdefault(node.name, []).append(node)
            if node.name in ("entry", "queries"):
                root_defs.add(node.name)
        else:
            roots.append(node)
    scripts = [REPO / "bench.py", *sorted((REPO / "perfbench").glob("*.py")),
               *sorted((REPO / "tools").glob("*.py"))]
    roots.extend(_parse(p) for p in scripts)

    seen: set[str] = set()
    todo = [*root_defs, *(n for r in roots for n in _names(r))]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for node in defs.get(name, ()):
            todo.extend(_names(node) - seen)
    return seen, public


def test_unreached_public_names_are_kept_on_purpose():
    reached, public = _reach()
    unreached = {
        name: files for name, files in public.items() if name not in reached
    }
    assert set(unreached) == set(KEEP), (
        f"unreached but not kept: {sorted(set(unreached) - set(KEEP))}; "
        f"kept but reached or gone: {sorted(set(KEEP) - set(unreached))}"
    )
