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


def _source_files():
    """(root, package files, production files): production is the
    package itself (CLI included), __spark_entry__.py, bench.py,
    scripts/ and perfbench/."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = sorted((root / "geobuf_cpp_spark").rglob("*.py"))
    prod = pkg + [root / "__spark_entry__.py", root / "bench.py"] \
        + sorted((root / "scripts").glob("*.py")) \
        + sorted((root / "perfbench").glob("*.py"))
    return root, pkg, prod


def test_no_test_only_public_api():
    """A public top-level function or class of the package that tests
    reference must also be referenced by production code (see
    ``_source_files``). Test-only API is deleted with its tests, not
    kept; the allow-list above names the exceptions, and each entry must
    still be test-only."""
    import ast

    root, pkg, prod_files = _source_files()
    public = set()
    for path in pkg:
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)) \
                    and not node.name.startswith("_"):
                public.add(node.name)
    prod = set().union(*map(_referenced_names, prod_files))
    tests = set().union(*map(_referenced_names,
                             sorted((root / "tests").glob("*.py"))))
    test_only = (public & tests) - prod
    assert sorted(test_only - set(TEST_ONLY_ALLOWED)) == []
    assert sorted(set(TEST_ONLY_ALLOWED) - test_only) == []


def _defaulted_parameters(fn):
    """(name, default text, positional index or None) per defaulted
    parameter of a FunctionDef."""
    import ast

    a = fn.args
    pos = a.posonlyargs + a.args
    out = [(arg.arg, ast.unparse(d), pos.index(arg))
           for arg, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)]
    out += [(arg.arg, ast.unparse(d), None)
            for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def test_no_unvaried_parameters():
    """Every defaulted parameter of a package function must receive two
    or more distinct argument texts from production calls (an omitted
    argument counts as its default). A parameter that production never
    varies is folded into the code instead: its value is inlined, or,
    when it is a constant the oracle also reads, passed explicitly
    without a default. Out of scope: the codec (the reference
    Encoder/Decoder API), session.py deployment settings, the CLI in
    __main__.py and the names in TEST_ONLY_ALLOWED. Calls resolve by
    name, through ``from ... import x as y`` aliases."""
    import ast
    import collections

    root, pkg, prod_files = _source_files()
    base = root / "geobuf_cpp_spark"
    funcs = collections.defaultdict(list)
    for path in pkg:
        rel = path.relative_to(base).as_posix()
        if rel.startswith("codec/") or rel in ("session.py", "__main__.py"):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                    and node.name not in TEST_ONLY_ALLOWED:
                funcs[node.name].append((rel, node))
    values = collections.defaultdict(set)
    for path in prod_files:
        tree = ast.parse(path.read_text())
        alias = {a.asname: a.name for node in ast.walk(tree)
                 if isinstance(node, ast.ImportFrom)
                 for a in node.names if a.asname}
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            f = call.func
            name = f.id if isinstance(f, ast.Name) else \
                f.attr if isinstance(f, ast.Attribute) else None
            kws = {k.arg: k.value for k in call.keywords if k.arg}
            for rel, fn in funcs.get(alias.get(name, name), []):
                for param, default, idx in _defaulted_parameters(fn):
                    if param in kws:
                        text = ast.unparse(kws[param])
                    elif idx is not None and idx < len(call.args):
                        text = ast.unparse(call.args[idx])
                    else:
                        text = default
                    values[rel, fn.name, param].add(text)
    unvaried = sorted(
        f"{rel}:{fn.lineno} {fn.name}({param}={default})"
        for lst in funcs.values() for rel, fn in lst
        for param, default, _ in _defaulted_parameters(fn)
        if len(values[rel, fn.name, param]) < 2
    )
    assert unvaried == [], f"{len(unvaried)} unvaried: {unvaried}"


def test_oracle_texts_and_query_order_unchanged():
    """The frozen driver contract: the oracle_sql() texts and the order
    of queries(). A change to either is a change of the harness, not of
    the engine, and needs its own reviewed update of these digests."""
    import hashlib

    import __spark_entry__ as E

    oracles = E.oracle_sql()
    assert len(oracles) == 183
    assert hashlib.md5(repr(sorted(oracles.items())).encode()).hexdigest() \
        == "c25ecffe7ad4f0364c33acd9b5775cd6"
    assert hashlib.md5(repr(list(E.queries())).encode()).hexdigest() \
        == "29251b38d406ea4b76b2e2a6796d9ee0"


def test_no_checkout_path_literals():
    """No string in the package, __spark_entry__.py or scripts/ names the
    absolute path of the checkout it runs from: files a run writes go
    to ``session.process_tmpdir()``, so any checkout, copy or install
    works alike. Docstrings may show a deployment example; testdata
    defaults are deployment paths and are not the checkout."""
    import ast

    root, pkg, _ = _source_files()
    files = pkg + [root / "__spark_entry__.py"] \
        + sorted((root / "scripts").glob("*.py"))
    hits = []
    for path in files:
        tree = ast.parse(path.read_text())
        docstrings = {
            id(node.body[0].value) for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.FunctionDef,
                                 ast.AsyncFunctionDef, ast.ClassDef))
            and ast.get_docstring(node, clean=False) is not None
        }
        hits += [f"{path.relative_to(root)}:{node.lineno}"
                 for node in ast.walk(tree)
                 if isinstance(node, ast.Constant)
                 and isinstance(node.value, str)
                 and id(node) not in docstrings
                 and str(root) in node.value]
    assert hits == []


def test_materialization_sites_measured():
    """Every ``persist`` / ``cache`` / ``localCheckpoint`` /
    ``checkpoint`` / ``loop_checkpoint`` call in the package and
    __spark_entry__.py, as (module.function, primitive) with the
    top-level function or class that holds it, is a row of the measured
    table in the ``plans.iterate`` docstring, and
    every row that names a primitive names a call: a new cache or
    checkpoint lands with its kept / dropped / other-primitive numbers,
    and a removed one keeps its row only as "dropped". The body of
    ``loop_checkpoint`` is the primitive itself, not a site."""
    import ast
    import collections

    from geobuf_cpp_spark.plans import iterate

    root, pkg, _ = _source_files()
    prims = {"persist", "cache", "localCheckpoint", "checkpoint",
             "loop_checkpoint"}
    found = collections.Counter()
    for path in pkg + [root / "__spark_entry__.py"]:
        rel = path.relative_to(root).with_suffix("")
        module = ".".join(rel.parts[rel.parts[0] == "geobuf_cpp_spark":])
        tree = ast.parse(path.read_text())
        owner = {id(node): top.name for top in tree.body
                 if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef,
                                     ast.ClassDef))
                 for node in ast.walk(top)}
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "attr", getattr(call.func, "id", None))
            site = f"{module}.{owner.get(id(call), '<module>')}"
            if name in prims and site != "plans.iterate.loop_checkpoint":
                found[site, name] += 1
    rows = [[cell.strip().strip("`") for cell in ln.split("|")[1:3]]
            for ln in iterate.__doc__.splitlines()
            if ln.strip().startswith("| ``")]
    listed = collections.Counter(tuple(r) for r in rows if r[1] in prims)
    assert found == listed, (found - listed, listed - found)


def test_contract_holds_no_python_stages():
    """__spark_entry__.py builds no Python stage itself: no call,
    reference or import of ``mapInPandas``, ``mapInArrow``,
    ``applyInPandas`` or ``pandas_udf``. The package owns one body per
    kernel (``functions/udfs.py`` for the per-point stages), and a gate
    passes it only tables, columns and constants."""
    import ast

    root, _, _ = _source_files()
    stages = {"mapInPandas", "mapInArrow", "applyInPandas", "pandas_udf"}
    tree = ast.parse((root / "__spark_entry__.py").read_text())
    hits = [f"__spark_entry__.py:{node.lineno} {name}"
            for node in ast.walk(tree)
            if isinstance(node, (ast.Name, ast.Attribute, ast.ImportFrom))
            for name in ([a.name for a in node.names]
                         if isinstance(node, ast.ImportFrom)
                         else [getattr(node, "attr",
                                       getattr(node, "id", None))])
            if name in stages]
    assert hits == []


def test_one_way_to_read_a_table():
    """A gate reads a table one of two ways: DataFrame-API code takes
    ``sources.readers.table_df``, and SQL text goes through
    ``sources.readers.sql_df``, which binds the views that text reads.
    So no production module but ``sources/readers.py`` binds a session
    view, and ``__spark_entry__.py`` makes no catalog lookup
    (``.table(``) and has no ``_prep`` or ``wrap`` binding views for a
    gate; ``queries()`` only ships the package."""
    import ast

    root, _, prod = _source_files()
    binders = {"createTempView", "createOrReplaceTempView",
               "createGlobalTempView", "createOrReplaceGlobalTempView"}
    readers = root / "geobuf_cpp_spark" / "sources" / "readers.py"
    hits = []
    for path in prod:
        rel = path.relative_to(root)
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in binders \
                    and path != readers:
                hits.append(f"{rel}:{node.lineno} {node.attr}")
    for node in ast.walk(ast.parse((root / "__spark_entry__.py").read_text())):
        if isinstance(node, ast.Call) \
                and getattr(node.func, "attr", None) == "table":
            hits.append(f"__spark_entry__.py:{node.lineno} .table(")
        name = getattr(node, "id", getattr(node, "name", None))
        if isinstance(node, (ast.Name, ast.FunctionDef)) \
                and name in ("_prep", "wrap"):
            hits.append(f"__spark_entry__.py:{node.lineno} {name}")
    assert hits == []
