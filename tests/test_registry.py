"""The registry contract in the default gate: every operator registers
once, at its definition, with a DuckDB oracle — and the registry is
the same whichever operator module is imported first."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from bigdataentrytask_spark.operators import ORACLES, REGISTRY, load_all

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

load_all()


def test_registry_size_and_oracle_coverage():
    assert len(REGISTRY) == 498
    assert set(ORACLES) == set(REGISTRY)


def _names_in_fresh_interpreter(code: str) -> list[str]:
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_registry_independent_of_import_order():
    """Importing an operator submodule before load_all() yields
    exactly the registry the driver entry point sees."""
    submodule_first = _names_in_fresh_interpreter(
        "import json\n"
        "import bigdataentrytask_spark.operators.text_analysis.rounds\n"
        "from bigdataentrytask_spark.operators import REGISTRY, load_all\n"
        "load_all()\n"
        "print(json.dumps(sorted(REGISTRY)))\n"
    )
    entry = _names_in_fresh_interpreter(
        "import json\n"
        "import __spark_entry__ as e\n"
        "print(json.dumps(sorted(e.queries())))\n"
    )
    assert len(submodule_first) == 498
    assert submodule_first == entry
