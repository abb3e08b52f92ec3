"""Layout of the operator inventory package, read with ``ast`` only (no
Spark): modules are named by family, and a helper used outside its family
module (by another family, a streaming twin or a measurement script) has a
public name instead of being imported privately."""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
INVENTORY = ROOT / "scout_spark" / "inventory"
PACKAGE = "scout_spark.inventory"


def _modules():
    paths = sorted(INVENTORY.glob("*.py"))
    assert paths, INVENTORY
    return paths


def test_no_round_or_number_named_modules():
    round_named = re.compile(r"^(insight_ops\d*|r\d+_\w+|extended\d*|.*\d+)$")
    bad = [p.stem for p in _modules() if round_named.match(p.stem)]
    assert not bad, f"inventory modules named by round or number: {bad}"


def test_no_private_imports_across_inventory_modules():
    importers = [
        *_modules(),
        *sorted((ROOT / "scout_spark" / "streaming").glob("*.py")),
        *sorted((ROOT / "scripts").glob("*.py")),
    ]
    bad = []
    for path in importers:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.ImportFrom) or not node.module:
                continue
            if node.module != PACKAGE and not node.module.startswith(
                PACKAGE + "."
            ):
                continue
            for alias in node.names:
                if alias.name.startswith("_"):
                    bad.append(f"{path.name}:{node.lineno} {alias.name}")
    assert not bad, f"private inventory names imported: {bad}"
