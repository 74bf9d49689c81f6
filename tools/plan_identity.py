#!/usr/bin/env python3
"""Dump what a rewrite must leave unchanged, for a byte-for-byte compare.

For each named registry query this builds the frame through
``queries()`` of the package found under ``<repo_root>`` and records:

  - the output schema: each column's name, type and nullability;
  - the rows, canonicalized and sorted by ``tools/verify_local.py::
    canon_rows`` (the oracle gates' canon);
  - ``queryExecution().optimizedPlan()`` as text, with expression ids,
    ``plan_id``s, RDD ids, whole-stage-codegen ids and scratch paths
    stripped, so two fresh drivers print the same text for the same plan.

The canon always comes from this file's own ``tools/`` directory, so the
same canon reads both trees. The script runs from ``<repo_root>``: a
Spark Python worker puts its working directory first on ``sys.path``, so
this is what makes the workers' operators come from the same tree as the
driver's (checked before the first query). To check a rewrite against its parent:

  git archive <parent> | tar -x -C /tmp/parent
  python3 tools/plan_identity.py /tmp/parent <sf_dir> parent.json <query>...
  python3 tools/plan_identity.py . <sf_dir> change.json <query>...
  cmp parent.json change.json
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import sys
from pathlib import Path

_STRIP = (
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"\*\(\d+\)"), "*()"),
    (re.compile(r"(file:)?/tmp/[^\s,\]]*"), "<tmp>"),
)


def strip_ids(plan: str) -> str:
    for pat, repl in _STRIP:
        plan = pat.sub(repl, plan)
    return plan


def _canon_rows():
    path = Path(__file__).resolve().parent / "verify_local.py"
    spec = importlib.util.spec_from_file_location("_plan_identity_canon", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon_rows


def _package_file(batches):
    import pandas as pd

    import kafka_streams_and_ktable_example_spark as pkg

    for _ in batches:
        yield pd.DataFrame({"path": [pkg.__file__]})


def main(repo_root: str, sf_dir: str, out: str, names: list[str]) -> None:
    root = Path(repo_root).resolve()
    sf_dir, out_path = str(Path(sf_dir).resolve()), Path(out).resolve()
    canon_rows = _canon_rows()  # it puts this tree on sys.path; go ahead of it
    sys.path.insert(0, str(root))
    os.chdir(root)
    import kafka_streams_and_ktable_example_spark as pkg
    from kafka_streams_and_ktable_example_spark.plans.catalog import queries
    from kafka_streams_and_ktable_example_spark.session import get_spark

    spark = get_spark("plan_identity")
    worker = spark.range(1).mapInPandas(_package_file, "path string").first()
    for where, path in (("driver", pkg.__file__), ("worker", worker.path)):
        if not Path(path).resolve().is_relative_to(root):
            sys.exit(f"{where} imports the package from {path}, not {root}")
    qs = queries()
    dump = {}
    for name in names:
        df = qs[name](spark, sf_dir)
        cols, rows = canon_rows(df.columns, [tuple(r) for r in df.collect()])
        dump[name] = {
            "schema": [
                [f.name, f.dataType.simpleString(), f.nullable]
                for f in df.schema.fields
            ],
            "rows": rows,
            "plan": strip_ids(
                df._jdf.queryExecution().optimizedPlan().toString()
            ).splitlines(),
        }
        print(f"{name}: {len(rows)} rows", flush=True)
    out_path.write_text(json.dumps(dump, indent=1, sort_keys=True) + "\n")
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) < 5:
        sys.exit(
            "usage: plan_identity.py <repo_root> <sf_dir> <out.json> <query>..."
        )
    main(sys.argv[1], sys.argv[2], sys.argv[3], sys.argv[4:])
