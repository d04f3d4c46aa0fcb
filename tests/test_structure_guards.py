"""Structure guards, no Spark. The engine package reads no ``OSMWWE_*``
env var and ``operators/cluster.py`` holds only the block kernel (its
cross-checks live in ``tests/test_cluster_paths.py``). ``operators/`` holds
no unfused assembly pass (its oracle lives in ``tests/unfused_assembly.py``).
Every stage table goes through ``sinks.table_sink.ParquetTableSink``, the
one place that sets the row-group size, into a scratch directory per call;
the tooling stages its own tables through it too. The pipeline cuts its
stages in the block manager: it writes no scratch table, and
``localCheckpoint`` is called only in the one cut helper (and in two
callers outside the pipeline). ``build_graph`` names
each stage once, as a key of its builder map, and runs the map through one
wave runner.
Every tooling script compiles, and every import of a sibling script,
function-local ones included, names a file under ``scripts/``: a plain
import test would miss a dangling function-local import until the function
runs."""

import ast
import importlib.machinery
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "osmwaterwayextractor_spark")
SCRIPTS = os.path.join(ROOT, "scripts")

CROSS_CHECK_NAMES = {
    "epsilon_pair_edges",
    "connected_components",
    "_snap_map_labelprop",
    "_snap_map_driver",
    "DRIVER_CC_MAX_PAIRS",
}

UNFUSED_ASSEMBLY_NAMES = {
    "assemble_geometries",
    "_reassemble_kernel",
    "clean_and_simplify",
    "clean_simplify_arrays",
}

# the per-caller stage writers and the pipeline's hand-kept tail list
RETIRED_STAGE_WRITER_NAMES = {"_ephemeral_stage", "_scratch_stage", "_TAIL"}

# the pipeline's hand-paired sibling runner and its job-group property copy
RETIRED_STAGE_RUNNER_NAMES = {"_stages_concurrent", "_GROUP_PROPERTIES"}

# the functions that call ``localCheckpoint``: the cut helper, and two
# callers outside the pipeline (a reused tiny top-1, and the dense-id pass
# whose offsets and join must see one partitioning)
LOCAL_CHECKPOINT_CALLERS = {
    (os.path.join("osmwaterwayextractor_spark", "sinks", "table_sink.py"), "block_cut"),
    (os.path.join("osmwaterwayextractor_spark", "entry_queries.py"), "q_knn_top1"),
    (os.path.join("osmwaterwayextractor_spark", "operators", "ids.py"), "dense_index"),
}


def _package_modules():
    for d, _, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def test_package_reads_no_osmwwe_env_var():
    hits = [
        os.path.relpath(p, ROOT)
        for p in _package_modules()
        if "OSMWWE_" in open(p, encoding="utf-8").read()
    ]
    assert hits == []


def _defined_names(path):
    """Every function, class and assigned plain name ``path`` defines, at
    any depth."""
    tree = ast.parse(open(path, encoding="utf-8").read())
    defined = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defined.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            defined |= {t.id for t in targets if isinstance(t, ast.Name)}
    return defined


def test_cluster_module_holds_no_cross_check_implementation():
    path = os.path.join(PKG, "operators", "cluster.py")
    assert _defined_names(path) & CROSS_CHECK_NAMES == set()


def test_operators_hold_no_unfused_assembly_pass():
    hits = {
        os.path.relpath(p, ROOT): _defined_names(p) & UNFUSED_ASSEMBLY_NAMES
        for p in _package_modules()
        if os.path.dirname(p) == os.path.join(PKG, "operators")
    }
    assert {p: names for p, names in hits.items() if names} == {}


def test_only_the_table_sink_sets_the_row_group_size():
    counts = {
        os.path.relpath(p, ROOT): open(p, encoding="utf-8").read().count("parquet.block.size")
        for p in [*_package_modules(), *_tooling_files()]
    }
    assert {p: n for p, n in counts.items() if n} == {
        os.path.join("osmwaterwayextractor_spark", "sinks", "table_sink.py"): 1
    }


def test_no_module_keeps_its_own_stage_writer_or_scratch_path():
    hits = {}
    for p in _package_modules():
        names = _defined_names(p) & RETIRED_STAGE_WRITER_NAMES
        if "dedup-scratch" in open(p, encoding="utf-8").read():
            names.add("dedup-scratch")
        if names:
            hits[os.path.relpath(p, ROOT)] = names
    assert hits == {}


def _tooling_files():
    files = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "bench_extra.py")]
    files += sorted(
        os.path.join(SCRIPTS, f) for f in os.listdir(SCRIPTS) if f.endswith(".py")
    )
    return files


def _imported_top_names(tree):
    """Top-level module names of every absolute import, at any depth."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.name.split(".")[0], node.lineno
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            yield node.module.split(".")[0], node.lineno


def _resolvable_outside_scripts(name):
    """Stdlib, a repo top-level module or package, or an installed one."""
    if name in sys.stdlib_module_names or name in sys.builtin_module_names:
        return True
    path = [
        p for p in sys.path if os.path.realpath(p or ".") != os.path.realpath(SCRIPTS)
    ]
    path.append(ROOT)
    return importlib.machinery.PathFinder.find_spec(name, path) is not None


@pytest.mark.parametrize(
    "path", _tooling_files(), ids=lambda p: os.path.relpath(p, ROOT)
)
def test_tooling_compiles_and_imports_only_existing_scripts(path):
    src = open(path, encoding="utf-8").read()
    tree = ast.parse(src, filename=path)
    compile(tree, path, "exec")
    dangling = [
        (name, line)
        for name, line in _imported_top_names(tree)
        if not _resolvable_outside_scripts(name)
        and not os.path.isfile(os.path.join(SCRIPTS, name + ".py"))
    ]
    assert dangling == [], f"imports of scripts that do not exist: {dangling}"


def test_build_graph_names_each_stage_once_in_its_builder_map():
    from osmwaterwayextractor_spark.config import STAGES

    path = os.path.join(PKG, "plans", "pipeline.py")
    assert _defined_names(path) & RETIRED_STAGE_RUNNER_NAMES == set()
    tree = ast.parse(open(path, encoding="utf-8").read())
    (build,) = [
        n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef) and n.name == "build_graph"
    ]
    maps = [
        n
        for n in ast.walk(build)
        if isinstance(n, ast.Dict)
        and n.keys
        and all(isinstance(k, ast.Constant) and k.value in STAGES for k in n.keys)
    ]
    assert [[k.value for k in m.keys] for m in maps] == [list(STAGES)]
    # no call outside the map takes a stage by name (self._stage("parsed", ...))
    inside = {id(n) for n in ast.walk(maps[0])}
    by_name = [
        (node.lineno, a.value)
        for node in ast.walk(build)
        if isinstance(node, ast.Call) and id(node) not in inside
        for a in [*node.args, *(k.value for k in node.keywords)]
        if isinstance(a, ast.Constant) and a.value in STAGES
    ]
    assert by_name == []


def _functions_using(path, attr):
    """The innermost function around each ``.<attr>`` in ``path``
    (``<module>`` outside every function)."""
    found = set()

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Attribute) and child.attr == attr:
                found.add(fn)
            inner = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if inner else fn)

    visit(ast.parse(open(path, encoding="utf-8").read()), "<module>")
    return found


def test_the_pipeline_cuts_its_stages_in_the_block_manager():
    path = os.path.join(PKG, "plans", "pipeline.py")
    tree = ast.parse(open(path, encoding="utf-8").read())
    imported = {a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom) for a in n.names}
    assert imported & {"scratch_dir", "scratch_table"} == set()
    # the footer read of the scratch parquet the clustering domain came from
    assert [p for p in _package_modules() if "_parquet_max_abs" in _defined_names(p)] == []


def test_local_checkpoint_is_called_only_in_the_cut_helper():
    calls = {
        (os.path.relpath(p, ROOT), fn)
        for p in _package_modules()
        for fn in _functions_using(p, "localCheckpoint")
    }
    assert calls == LOCAL_CHECKPOINT_CALLERS
