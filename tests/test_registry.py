"""The query registry's shape: every queries() value is a module-level
function called as (spark, sf_dir) that opens its own inputs, and every
fixture file is named by the sources/ function that writes it, never in
api.py. No Spark session needed."""

import ast
import inspect
import sys

from temp_c__bpf_osm_reader_spark import api


def _api_tree():
    return ast.parse(inspect.getsource(api))


def test_registry_values_are_module_level_functions():
    for name, fn in api.queries().items():
        assert inspect.isfunction(fn), name
        assert fn.__name__ != "<lambda>", name
        assert getattr(sys.modules[fn.__module__], fn.__name__, None) is fn, name
        assert list(inspect.signature(fn).parameters) == ["spark", "sf_dir"], name


def test_no_api_function_only_forwards_spark_and_sf_dir():
    for node in _api_tree().body:
        if not isinstance(node, ast.FunctionDef):
            continue
        body = [s for s in node.body if not (isinstance(s, ast.Expr) and isinstance(s.value, ast.Constant))]
        if len(body) != 1 or not isinstance(body[0], ast.Return):
            continue
        call = body[0].value
        forwards = (
            isinstance(call, ast.Call)
            and not call.keywords
            and [getattr(a, "id", None) for a in call.args] == ["spark", "sf_dir"]
        )
        assert not forwards, f"{node.name} only forwards (spark, sf_dir)"


def test_api_names_no_parquet_file():
    literals = [
        n.value for n in ast.walk(_api_tree())
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    ]
    assert [s for s in literals if s.endswith(".parquet")] == []
