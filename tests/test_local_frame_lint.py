"""Driver-frame lint: every frame built from rows the driver holds goes
through `operators/kernels.local_frame`.

`spark.createDataFrame(<list>, schema)` pickles the rows and ships them
through a Python task per slice, so each call site starts Python workers
just to move rows the driver already has; `local_frame` builds the same
frame (same types and nullability) as a JVM `LocalRelation` from one
Arrow table. The only ``createDataFrame(`` call in the library is the
one inside `local_frame`; a new one fails here until it is routed
through the helper.
"""

from __future__ import annotations

import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent / "xeloader_spark"

ALLOWED = {"operators/kernels.py": ["return spark.createDataFrame(table, schema)"]}


def test_create_dataframe_only_in_local_frame():
    found: dict[str, list[str]] = {}
    for p in sorted(ROOT.rglob("*.py")):
        lines = [
            ln.strip()
            for ln in p.read_text().splitlines()
            if "createDataFrame(" in ln
        ]
        if lines:
            found[str(p.relative_to(ROOT))] = lines
    assert found == ALLOWED, (
        "createDataFrame outside kernels.local_frame — build driver rows "
        f"with local_frame instead: {found}"
    )
