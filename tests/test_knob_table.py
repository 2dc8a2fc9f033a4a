"""The deployment knob table (SCALING.md §15) lists exactly the
``spark.bioframe.*`` keys the package reads: a knob added without a row,
or a row left behind for a deleted knob, fails here."""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parents[1]
_KEY = re.compile(r"spark\.bioframe\.([A-Za-z]\w*)")


def _docstring_nodes(tree):
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                out.add(id(body[0].value))
    return out


def _package_keys():
    """Keys read under bioframe_spark/: ``spark.bioframe.<key>`` in any
    non-docstring string literal, plus the key argument of every
    ``_threshold(df, "<key>", default)`` call."""
    keys = set()
    for path in sorted((ROOT / "bioframe_spark").rglob("*.py")):
        tree = ast.parse(path.read_text())
        docs = _docstring_nodes(tree)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and id(node) not in docs):
                keys.update(_KEY.findall(node.value))
            elif isinstance(node, ast.Call):
                fn = node.func
                name = getattr(fn, "id", None) or getattr(fn, "attr", None)
                if (name == "_threshold" and len(node.args) >= 2
                        and isinstance(node.args[1], ast.Constant)):
                    keys.add(node.args[1].value)
    return keys


def _table_keys():
    text = (ROOT / "SCALING.md").read_text()
    start = text.index("### spark.bioframe.* knobs")
    end = text.index("\n### ", start + 1)
    return set(re.findall(r"^\| `(\w+)` \|", text[start:end], re.M))


def test_scaling_knob_table_matches_package_reads():
    read, table = _package_keys(), _table_keys()
    assert read, "no spark.bioframe.* reads found — scanner broken"
    assert read == table, (
        f"read but not in SCALING §15: {sorted(read - table)}; "
        f"in SCALING §15 but not read: {sorted(table - read)}")
