"""The reference's OWN test suite as a regression net: every case in
tests/golden_manifest.json (name → tests.sh line of a known-passing
invocation) must reproduce its tests/output golden byte-exactly through
the harness (xidel_spark/harness) — evaluation equality, not just parse
acceptance (VERDICT r3 task 1).

The manifest is generated from a full tools/golden_report.py sweep; the
sweep also reports the cases still failing/skipped, which this battery
does not hide. Update the manifest when a new family starts passing.
"""

import json
from pathlib import Path

import pytest

REF = Path("/root/reference")
MANIFEST = json.loads((Path(__file__).parent / "golden_manifest.json").read_text())

pytestmark = pytest.mark.needs_reference


def _cases():
    from xidel_spark.harness import parse_tests_sh

    by_key = {}
    for c in parse_tests_sh(REF / "tests/tests.sh"):
        by_key[(c.name, c.line)] = c
    return by_key


def test_reference_goldens_byte_exact(spark):
    from xidel_spark.harness import Skip, run_case

    by_key = _cases()
    failures = []
    passed = 0
    for name, line in MANIFEST.items():
        case = by_key.get((name, line))
        if case is None:
            failures.append(f"{name}: invocation at line {line} not found")
            continue
        want = (REF / "tests/output" / name).read_text()
        try:
            got = run_case(spark, case, REF)
        except Skip as e:
            failures.append(f"{name}: SKIP {e}")
            continue
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:120]}")
            continue
        if got == want:
            passed += 1
        else:
            failures.append(f"{name}: output mismatch (line {line})")
    assert not failures, f"{len(failures)} regressions:\n" + "\n".join(failures[:25])
    assert passed >= 382, passed
