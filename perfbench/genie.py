"""The genie workload: one night of the GENIE pipeline, as the CLI runs
it, in a fresh process over an empty warehouse.

Sweep 1 ingests every center's first upload through ``cmd_nightly``
(one ``cmd_ingest`` call per batch).  Sweep 2 re-sends the amended
center: the changed clinical file takes the partition-scoped MERGE, the
byte-identical BED and MAF files take the md5-skip path, and a new
patient retraction cascades into the clinical table.  Then
``cmd_release`` runs on the result, with its QC.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
import time


def run(spark, manifest: dict, out_dir: str) -> tuple[list[dict], int]:
    """Run the night.  Returns one record per operation (each
    ``cmd_ingest`` batch, then the release) and the number of QC errors
    the release reported."""
    from genie_spark import cli

    wh, rel = os.path.join(out_dir, "warehouse"), os.path.join(out_dir, "release")
    ops: list[dict] = []
    inner = cli.cmd_ingest

    def ingest(spark_, args):
        rec = {"kind": "ingest", "name": ";".join(sorted(map(os.path.basename, args.paths)))}
        ops.append(rec)
        return _timed(rec, inner, spark_, args)

    steps = [
        ("sweep", cli.cmd_nightly, argparse.Namespace(
            input_dir=sweep, warehouse=wh, centers=",".join(centers), output=None,
            dashboard=None, version="v1", study_id="genie_private", pad=10,
            force=False, prev_release=None))
        for sweep, centers in zip(manifest["sweeps"], manifest["sweep_centers"])
    ] + [
        ("release", cli.cmd_release, argparse.Namespace(
            warehouse=wh, output=rel, version="v1", study_id="genie_private",
            pad=10, whitelist=None, processing_date=None, seq_date_cutoff=184,
            oncotree_json=manifest["oncotree_json"], skip_qc=False)),
    ]
    out = io.StringIO()
    cli.cmd_ingest = ingest
    try:
        with contextlib.redirect_stdout(out):
            for kind, fn, args in steps:
                rec = {"kind": kind, "name": kind}
                _timed(rec, fn, spark, args)
                # a sweep's operations are its ingest batches, unless it fails
                if kind != "sweep" or rec.get("error"):
                    ops.append(rec)
    finally:
        cli.cmd_ingest = inner
    sys.stderr.write(out.getvalue())
    qc = [json.loads(line)["qc_errors"] for line in out.getvalue().splitlines()
          if line.startswith('{"release"')]
    return ops, qc[0] if qc else -1


def _timed(rec: dict, fn, *args):
    t0 = time.perf_counter()
    try:
        rec["rc"] = fn(*args)
        return rec["rc"]
    except Exception as exc:  # a failed step is counted, not fatal
        rec["rc"], rec["error"] = None, f"{type(exc).__name__}: {exc}"[:300]
        return 1
    finally:
        rec["s"] = time.perf_counter() - t0


def check(manifest: dict, out_dir: str, ops: list[dict], qc_errors: int) -> dict[str, str]:
    """Output checks.  Returns check name → failure reason."""
    import pyarrow.dataset as ds

    failures = {}
    for op in ops:
        if op.get("rc") != 0:
            failures[f"rc:{op['name']}"] = op.get("error") or f"rc={op.get('rc')}"
    if qc_errors != 0:
        failures["release.qc"] = f"{qc_errors} QC errors"
    wh = os.path.join(out_dir, "warehouse")
    for table, want in manifest["expected"]["bronze"].items():
        path = os.path.join(wh, table)
        got = (ds.dataset(path, format="parquet", partitioning="hive").count_rows()
               if os.path.isdir(path) else 0)
        if got != want:
            failures[f"bronze:{table}"] = f"{got} rows, expected {want}"
    for name, fname in (("clinical", "data_clinical.txt"),
                        ("maf", "data_mutations_extended.txt")):
        got = data_rows(os.path.join(out_dir, "release", fname))
        want = manifest["expected"]["release"][name]
        if got != want:
            failures[f"release:{name}"] = f"{got} rows, expected {want}"
    return failures


def data_rows(path: str) -> int:
    """Data rows of a released TSV: lines that are not '#' comments,
    minus the header; -1 when the file is missing."""
    if not os.path.isfile(path):
        return -1
    with open(path) as f:
        return sum(1 for line in f if line.strip() and not line.startswith("#")) - 1


def stored_bytes(out_dir: str) -> int:
    """Bytes left on disk in the warehouse and the release directory."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for sub in ("warehouse", "release")
        for d, _, files in os.walk(os.path.join(out_dir, sub)) for f in files
    )
