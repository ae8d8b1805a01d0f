"""The package's configuration surface stays the deployment set.

Strategy thresholds (driver-side CC/triangle/k-core caps, the cumsum
grid cap, the tie-direct cap, the persist slot cap) are plain module
constants; tests patch them with ``monkeypatch.setattr``. An AST scan
of ``vnavc_spark/`` fails on any new environment-variable read or
Spark conf key of our own, so a new knob has to be argued for here.
"""

from __future__ import annotations

import ast
import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "vnavc_spark"

#: environment variables that describe the deployment, not a strategy
DEPLOYMENT_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_MASTER",
}

_OWN_CONF_KEY = re.compile(r"spark\.vnavc\.")


def _is_env_ref(node: ast.AST) -> bool:
    names = {"environ", "getenv"}
    return (isinstance(node, ast.Attribute) and node.attr in names) or (
        isinstance(node, ast.Name) and node.id in names
    )


def _env_key(node: ast.AST, parents: dict) -> str | None:
    """The literal variable name an ``os.environ`` / ``getenv``
    reference reads, or None when it is not a literal."""
    parent = parents.get(node)
    key = None
    if isinstance(parent, ast.Call) and parent.func is node:
        key = parent.args[0] if parent.args else None  # getenv("X")
    elif isinstance(parent, ast.Subscript) and parent.value is node:
        key = parent.slice  # environ["X"]
    elif isinstance(parent, ast.Compare) and node in parent.comparators:
        key = parent.left  # "X" in environ
    elif isinstance(parent, ast.Attribute) and parent.value is node:
        call = parents.get(parent)  # environ.get("X") and friends
        if isinstance(call, ast.Call) and call.func is parent and call.args:
            key = call.args[0]
    if isinstance(key, ast.Constant) and isinstance(key.value, str):
        return key.value
    return None


def _scan(root: pathlib.Path = PACKAGE) -> tuple[list[str], list[str]]:
    env_reads, conf_keys = [], []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        parents = {
            child: node
            for node in ast.walk(tree)
            for child in ast.iter_child_nodes(node)
        }
        rel = path.relative_to(root.parent)
        for node in ast.walk(tree):
            if _is_env_ref(node):
                key = _env_key(node, parents)
                if key not in DEPLOYMENT_ENV:
                    env_reads.append(f"{rel}:{node.lineno} {key!r}")
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and _OWN_CONF_KEY.search(node.value)
            ):
                conf_keys.append(f"{rel}:{node.lineno}")
    return env_reads, conf_keys


def test_env_reads_are_deployment_only():
    env_reads, _ = _scan()
    assert env_reads == [], env_reads


def test_no_package_conf_keys():
    _, conf_keys = _scan()
    assert conf_keys == [], conf_keys


def test_scan_catches_every_read_form(tmp_path):
    """Every env read form is caught, deployment names pass,
    non-literal keys are rejected, and a package conf key is found."""
    pkg = tmp_path / "vnavc_spark"
    pkg.mkdir()
    conf_key = ".".join(["spark", "vnavc", "x", "cap"])
    (pkg / "m.py").write_text(
        "import os\n"
        "from os import getenv\n"
        "a = os.environ.get('SPARK_GRAFT_CPUS')\n"
        "b = os.environ.get('NEW_KNOB', '1')\n"
        "c = os.environ['OTHER']\n"
        "d = 'THIRD' in os.environ\n"
        "e = getenv('FOURTH')\n"
        "f = os.getenv(name)\n"
        f"g = spark.conf.get({conf_key!r}, '0')\n"
    )
    env_reads, conf_keys = _scan(pkg)
    assert sorted(r.split(" ", 1)[1] for r in env_reads) == [
        "'FOURTH'", "'NEW_KNOB'", "'OTHER'", "'THIRD'", "None",
    ]
    assert conf_keys == ["vnavc_spark/m.py:9"]
