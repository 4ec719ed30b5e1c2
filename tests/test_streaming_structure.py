"""Structure of the ``streaming`` package: a module may use a sibling
streaming module only through its public names. Shared protocol
helpers live, public, in ``streaming/fingerprint.py``; borrowing a
sibling's private helper instead re-grows the per-sink copies of the
versioned-sink protocol."""

import ast
import pathlib

import oracle_cassandra_migrator_spark.streaming as streaming_pkg

PKG = "oracle_cassandra_migrator_spark.streaming"
STREAMING_DIR = pathlib.Path(streaming_pkg.__file__).parent


def _sibling_private_imports(path: pathlib.Path) -> list[str]:
    siblings = {p.stem for p in STREAMING_DIR.glob("*.py")}
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if not isinstance(node, ast.ImportFrom):
            continue
        module = node.module or ""
        if node.level == 1:
            stem = module.split(".")[0]
        elif module.startswith(PKG + "."):
            stem = module[len(PKG) + 1:].split(".")[0]
        else:
            continue
        if stem not in siblings:
            continue
        found += [f"{path.name}:{node.lineno} imports {a.name} from {stem}"
                  for a in node.names if a.name.startswith("_")]
    return found


def test_no_streaming_module_imports_a_siblings_private_name():
    files = sorted(STREAMING_DIR.glob("*.py"))
    assert len(files) > 5
    found = [hit for f in files for hit in _sibling_private_imports(f)]
    assert found == []
