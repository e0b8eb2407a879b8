"""Driver-contract invariants that need no Spark session."""


def test_queries_and_oracles_key_aligned():
    """Every queries() entry must have an oracle_sql() twin and vice versa
    — the correctness gate silently skips orphans, so drift here would
    demote a query to untested without any failure signal."""
    import __spark_entry__ as E

    q = set(E.queries())
    o = set(E.oracle_sql())
    assert q == o, (sorted(q - o), sorted(o - q))


def test_oracles_are_nonempty_sql():
    import re

    import __spark_entry__ as E

    for name, sql in E.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name
        # catch unformatted f-string placeholders like {threshold} while
        # allowing regex quantifier braces like {1,3} / {2,} in patterns
        leftover = re.search(r"\{[A-Za-z_][A-Za-z_0-9]*\}", sql)
        assert not leftover, (
            f"{name}: unformatted placeholder {leftover and leftover.group()}"
        )


# Public package names that only tests reference, kept on purpose.
TEST_ONLY_ALLOWED = {
    # codec surface: the reference library's API, exercised by codec tests
    "decode_features": "codec surface (inverse of encode_features)",
    "decode_feature_collections": "codec surface (inverse of FC encode)",
    "encode_feature_collections": "codec surface (writeFeatureCollection)",
    "str2json2str": "codec surface (reference string round trip)",
    "str2geojson2str": "codec surface (reference string round trip)",
    # numpy reference kernels that tests compare the SQL forms against
    "cell_of": "reference kernel for sql_cell",
    "cell_parent": "reference kernel for the SQL parent cell",
    "cell_center": "reference kernel for the SQL cell center",
    "ring_cells": "reference kernel for sql_ring_cells",
    "sql_ring_cells": "SQL ring checked against ring_cells",
    "equirect_tile": "reference kernel for the SQL tile key",
    "mercator_tile": "reference kernel for the SQL tile key",
    "point_in_wire_polygon": "reference kernel for the PIP refine",
    "cosine_neardup_pairs": "exact reference for the LSH near-dup pairs",
    "hll_estimate_value": "reference estimator for the SQL HLL estimate",
    "round_half_away": "reference kernel for the encoder's inlined rounding",
    # north-star surfaces (tiles, materialized geobuf layout)
    "rasterize_tiles": "north-star surface: raster tiles",
    "vectorize_raster": "north-star surface: raster to vector",
    "materialize_geobuf": "north-star surface: geobuf materialization",
    "repartition_by_cell_prefix": "north-star surface: cell-prefix layout",
    # test entry points into production internals
    "funnel_counts": "test entry point for the funnel gate's internals",
    "point_segment_range_join": "test entry point for the segment join",
    "merge_sketches": "test entry point for the quantile-sketch merge",
}


def _referenced_names(path):
    import ast

    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            names.update(a.name for a in node.names)
    return names


def test_no_test_only_public_api():
    """A public top-level function or class of the package that tests
    reference must also be referenced by production code: the package
    itself (CLI included), __spark_entry__.py, scripts/ or perfbench/.
    Test-only API is deleted with its tests, not kept; the allow-list
    above names the exceptions, and each entry must still be test-only."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = sorted((root / "geobuf_cpp_spark").rglob("*.py"))
    public = set()
    for path in pkg:
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)) \
                    and not node.name.startswith("_"):
                public.add(node.name)
    prod_files = pkg + [root / "__spark_entry__.py"] \
        + sorted((root / "scripts").glob("*.py")) \
        + sorted((root / "perfbench").glob("*.py"))
    prod = set().union(*map(_referenced_names, prod_files))
    tests = set().union(*map(_referenced_names,
                             sorted((root / "tests").glob("*.py"))))
    test_only = (public & tests) - prod
    assert sorted(test_only - set(TEST_ONLY_ALLOWED)) == []
    assert sorted(set(TEST_ONLY_ALLOWED) - test_only) == []
