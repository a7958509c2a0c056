"""Every name the scripts under tools/ import from ``sparksketch`` or
``bench`` still exists, checked by parsing each script with ``ast``
without running it, so deleting a helper cannot silently break a script.
Every ``tools/`` path the code and docs cite still exists or is listed in
BENCH.md "Retired diagnostic scripts", so no citation dangles."""
import ast
import glob
import importlib
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _project_names(tree):
    """(line, module, name) for each ``from sparksketch... import`` /
    ``from bench import`` name and each ``bench.<name>`` after
    ``import bench``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module == "bench"
                or node.module.split(".")[0] == "sparksketch"):
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif (isinstance(node, ast.Attribute)
              and isinstance(node.value, ast.Name)
              and node.value.id == "bench"):
            yield node.lineno, "bench", node.attr


def _resolves(module, name):
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:  # a submodule: ``from sparksketch import workerenv``
        importlib.import_module(f"{module}.{name}")
        return True
    except ModuleNotFoundError:
        return False


def test_tool_imports_resolve():
    scripts = sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))
    assert scripts
    missing = []
    for path in scripts:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        missing += [f"{os.path.basename(path)}:{line} {module}.{name}"
                    for line, module, name in _project_names(tree)
                    if not _resolves(module, name)]
    assert not missing, missing


def _retired_scripts():
    """The ``tools/...`` paths listed in BENCH.md's retired section."""
    with open(os.path.join(ROOT, "BENCH.md")) as f:
        text = f.read()
    section = text.split("## Retired diagnostic scripts", 1)[1]
    section = section.split("\n## ", 1)[0]
    return set(re.findall(r"^- `(tools/[^`]+)`", section, re.M))


def test_cited_tool_paths_exist_or_are_retired():
    cited = glob.glob(os.path.join(ROOT, "sparksketch", "**", "*.py"),
                      recursive=True)
    cited += [os.path.join(ROOT, name)
              for name in ("bench.py", "README.md", "SURVEY.md")]
    retired = _retired_scripts()
    assert retired
    dangling = []
    for path in cited:
        with open(path) as f:
            text = f.read()
        for ref in re.findall(r"(?<![\w/])tools/[\w/.-]*\w", text):
            if not (os.path.exists(os.path.join(ROOT, ref))
                    or ref in retired):
                dangling.append(f"{os.path.relpath(path, ROOT)}: {ref}")
    assert not dangling, dangling
