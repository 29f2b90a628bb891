"""EXPath file module: replay the reference's OWN file-module test script
(tests/tests-file-module.sh → tests/output/file/*) through the driver-side
interpreter (xidel_spark/harness/filemod.py), byte-exact.

The script is STATEFUL (cases build on files earlier cases wrote under
/tmp/xidel/file/test), so invocations run in script order. The one
excluded case is file/current-dir-tests — the reference's script itself
prints 'The next test will fail unless $(pwd) is /home/benito/...'
(machine-specific golden)."""

import re
from pathlib import Path

import pytest

REF = Path("/root/reference")
SCRIPT = REF / "tests/tests-file-module.sh"

pytestmark = pytest.mark.needs_reference

EXCLUDED = {"file/current-dir-tests"}


def _cases():
    """(name, expr, env) per invocation, shell vars expanded."""
    text = SCRIPT.read_text()
    env = {}
    out = []
    subs = {}
    for line in text.split("\n"):
        line = line.strip()
        m = re.fullmatch(r"(\w+)=([^ ]+)", line)
        if m and not line.startswith("export"):
            subs[m.group(1)] = m.group(2)
            continue
        if line.startswith("export "):
            k, _, v = line[len("export "):].partition("=")
            env[k] = v
            continue
        if not line.startswith("tests/test.sh"):
            continue
        for k, v in subs.items():
            line = line.replace("${%s}" % k, v).replace("$%s" % k, v)
        line = line.split(" #")[0]
        toks = re.findall(r'"((?:[^"\\]|\\.)*)"|\'([^\']*)\'|(\S+)', line)
        flat = [a or b or c for a, b, c in toks]
        name = flat[1]
        expr = None
        for i, t in enumerate(flat):
            if t in ("--xquery", "-e") and i + 1 < len(flat):
                expr = flat[i + 1].replace("\\$", "$").replace('\\"', '"')
        if expr is not None:
            out.append((name, expr, dict(env)))
    return out


def test_file_module_goldens_byte_exact():
    from xidel_spark.harness.filemod import FileError, eval_file_expr

    cases = _cases()
    assert len(cases) >= 30, cases
    failures = []
    passed = 0
    for name, expr, env in cases:
        if name in EXCLUDED:
            continue
        want = (REF / "tests/output" / name).read_bytes() \
            .decode("utf-8", errors="surrogateescape")
        try:
            got = eval_file_expr(expr, osenv=env)
        except FileError as e:
            failures.append(f"{name}: {e.code} {e}")
            continue
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:120]}")
            continue
        if got == want:
            passed += 1
        else:
            failures.append(f"{name}: mismatch\n  want={want!r}\n  got ={got!r}")
    assert not failures, f"{len(failures)} failing:\n" + "\n".join(failures[:10])
    assert passed >= 30, passed
