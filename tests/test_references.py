"""The benchmark drivers and scripts reach into searty_spark by name
(imports, and the functions perfbench/spans.py wraps), and the suite
runs few of them. This scan resolves every such name against the
package, and binds every call of a resolved function to its signature,
so deleting or renaming a function or a parameter cannot leave one of
them dangling. Spark-free: importing the modules starts no JVM."""

import ast
import importlib
import inspect
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCANNED = sorted(
    [ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"]
    + list((ROOT / "scripts").glob("*.py"))
    + list((ROOT / "perfbench").glob("*.py"))
)
PKG = "searty_spark"


def _ours(module: str | None) -> bool:
    return module is not None and (module == PKG or module.startswith(PKG + "."))


def _dangling(path: Path) -> list[str]:
    """``"name (line)"`` for every searty_spark import, and every
    attribute read through an alias of a searty_spark module, in
    ``path`` that does not resolve; ``"name(): why (line)"`` for every
    call of a resolved function or class whose positional count or
    keyword names its signature does not accept (calls that spread
    ``*args`` or ``**kwargs`` are skipped)."""
    tree = ast.parse(path.read_text(), str(path))
    bad, aliases, names = [], {}, {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if _ours(a.name):
                    mod = importlib.import_module(a.name)
                    aliases[a.asname or PKG] = mod if a.asname else importlib.import_module(PKG)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and _ours(node.module):
            mod = importlib.import_module(node.module)
            for a in node.names:
                if not hasattr(mod, a.name):
                    try:  # a submodule resolves once imported
                        importlib.import_module(f"{node.module}.{a.name}")
                    except ModuleNotFoundError:
                        bad.append(f"{node.module}.{a.name} ({node.lineno})")
                        continue
                obj = getattr(mod, a.name)
                if inspect.ismodule(obj):
                    aliases[a.asname or a.name] = obj
                else:
                    names[a.asname or a.name] = obj
    called = {}  # id of a call's func node -> the object it resolved to
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
            if node.func.id in names:
                called[id(node.func)] = names[node.func.id]
        if not (isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load)):
            continue
        chain, base = [], node
        while isinstance(base, ast.Attribute):
            chain.insert(0, base.attr)
            base = base.value
        if not (isinstance(base, ast.Name) and base.id in aliases):
            continue
        # follow the chain while it stays inside modules and classes
        obj = aliases[base.id]
        for attr in chain:
            if not (inspect.ismodule(obj) or inspect.isclass(obj)):
                break
            if not hasattr(obj, attr):
                bad.append(f"{base.id}.{'.'.join(chain)} ({node.lineno})")
                break
            obj = getattr(obj, attr)
        else:
            called[id(node)] = obj
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and id(node.func) in called):
            continue
        if any(isinstance(a, ast.Starred) for a in node.args) or any(
            kw.arg is None for kw in node.keywords
        ):
            continue
        try:
            sig = inspect.signature(called[id(node.func)])
        except (TypeError, ValueError):  # not a callable with a signature
            continue
        try:
            sig.bind(*node.args, **{kw.arg: kw.value for kw in node.keywords})
        except TypeError as e:
            bad.append(f"{ast.unparse(node.func)}(): {e} ({node.lineno})")
    return sorted(set(bad))


@pytest.mark.parametrize("path", SCANNED, ids=lambda p: str(p.relative_to(ROOT)))
def test_searty_spark_references_resolve(path):
    assert _dangling(path) == []


def test_scan_reports_missing_names(tmp_path):
    """The scan follows imports and alias attribute reads, including
    the module-attribute and method shapes perfbench/spans.py wraps."""
    probe = tmp_path / "probe.py"
    probe.write_text(
        "import searty_spark.wand as wand\n"
        "from searty_spark import champions, no_such_module\n"
        "from searty_spark.index import write_index, no_such_function\n"
        "wand.wand_topk_batch, wand.TermDfClient.lookup\n"
        "wand.no_such_kernel, champions.ChampionClient.no_such_method\n"
        "write_index(docs, out, n_shards=2), wand.wand_topk(s, d, q, pre_partitioned=True)\n"
        "write_index(docs, out, no_such_keyword=1)\n"
        "wand.wand_topk(1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13)\n"
    )
    assert _dangling(probe) == [
        "champions.ChampionClient.no_such_method (5)",
        "searty_spark.index.no_such_function (3)",
        "searty_spark.no_such_module (2)",
        "wand.no_such_kernel (5)",
        "wand.wand_topk(): too many positional arguments (8)",
        "write_index(): got an unexpected keyword argument 'no_such_keyword' (7)",
    ]
