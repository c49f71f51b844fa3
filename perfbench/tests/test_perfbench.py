"""Tests of the benchmark itself; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import signal
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import catalog  # noqa: E402
import catalog_gen  # noqa: E402
import genie  # noqa: E402
import genie_gen  # noqa: E402
import layertrace  # noqa: E402
import run  # noqa: E402


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.diff_files or cmp.funny_files:
        return False
    return all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_genie_generator_is_deterministic(tmp_path):
    m1 = genie_gen.generate(str(tmp_path / "a"), 7)
    m2 = genie_gen.generate(str(tmp_path / "b"), 7)
    genie_gen.generate(str(tmp_path / "c"), 8)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert m1["expected"] == m2["expected"]
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_genie_generator_states_filter_shares(tmp_path):
    m = genie_gen.generate(str(tmp_path / "u"), 3)
    # every sample-level release filter removes at least one sample
    assert set(m["removed_samples"]) == set(genie_gen.SAMPLE_FILTER_SHARE)
    assert all(n >= 1 for n in m["removed_samples"].values())
    exp = m["expected"]
    assert exp["release"]["clinical"] == (
        exp["bronze"]["clinical"] + m["removed_samples"]["retracted"]
        - sum(m["removed_samples"].values())
    )
    # sweep 2 re-sends one center: amended clinical, identical BED and MAF
    s1, s2 = m["sweeps"]
    center = m["sweep_centers"][1][0]
    for name, same in ((f"{center}-PANEL-1.bed", True),
                       (f"data_mutations_extended_{center}.txt", True),
                       (f"data_clinical_supp_sample_{center}.txt", False)):
        assert filecmp.cmp(os.path.join(s1, center, name), os.path.join(s2, center, name),
                           shallow=False) is same


def test_catalog_generator_is_deterministic():
    a, b, c = catalog_gen.tables(5), catalog_gen.tables(5), catalog_gen.tables(6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["embeddings"].num_rows == catalog_gen.SIZES["embeddings"]


def _fake_night(tmp_path, manifest) -> str:
    """An output tree holding exactly the rows the manifest expects."""
    out = tmp_path / "night"
    for table, n in manifest["expected"]["bronze"].items():
        d = out / "warehouse" / table / "CENTER=X"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"k": list(range(n))}), d / "part-0.parquet")
    rel = out / "release"
    rel.mkdir(parents=True)
    n_clin = manifest["expected"]["release"]["clinical"]
    (rel / "data_clinical.txt").write_text(
        "#Sample Id\n#STRING\nSAMPLE_ID\n" + "".join(f"S{i}\n" for i in range(n_clin)))
    n_maf = manifest["expected"]["release"]["maf"]
    (rel / "data_mutations_extended.txt").write_text(
        "Hugo_Symbol\tTumor_Sample_Barcode\n" + "".join(f"TP53\tS{i}\n" for i in range(n_maf)))
    return str(out)


def test_genie_checker_catches_a_corrupted_release_file(tmp_path):
    m = genie_gen.generate(str(tmp_path / "u"), 4)
    out = _fake_night(tmp_path, m)
    ops = [{"kind": "ingest", "name": "x", "rc": 0}]
    assert genie.check(m, out, ops, 0) == {}

    maf = os.path.join(out, "release", "data_mutations_extended.txt")
    with open(maf) as f:
        lines = f.readlines()
    with open(maf, "w") as f:
        f.writelines(lines[:-1])  # one released variant lost
    assert set(genie.check(m, out, ops, 0)) == {"release:maf"}
    assert "release.qc" in genie.check(m, out, ops, 2)
    assert "rc:x" in genie.check(m, out, [{"kind": "ingest", "name": "x", "rc": 1}], 0)


def test_catalog_checker_catches_a_wrong_query_result():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, None), (3, 1.25)]
    assert catalog.diff(cols, rows, ["v", "k"], [(1.25, 3), (0.5, 1), (None, 2)]) == ""
    assert "values" in catalog.diff(cols, rows, cols, [(1, 0.5), (2, None), (3, 1.5)])
    assert "row count" in catalog.diff(cols, rows, cols, rows[:2])
    assert "columns" in catalog.diff(cols, rows, ["k", "w"], rows)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert declared == run.END_TO_END
    declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared == run.per_layer_units()
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


def test_layer_attribution_on_a_synthetic_timeline():
    t = layertrace.Tracer("r")
    # cli [0, 10] ⊃ io.bronze [2, 6] ⊃ formats [3, 4]
    t.spans = [["cmd_ingest", "cli", 0.0, 10.0, None],
               ["merge_into_bronze", "io.bronze", 2.0, 6.0, 0],
               ["orc.read", "formats", 3.0, 4.0, 1]]
    jobs = [
        {"jobId": 0, "submissionTime": 1000, "completionTime": 1500, "stageIds": [0]},
        {"jobId": 1, "submissionTime": 3500, "completionTime": 3900, "stageIds": [1]},
        {"jobId": 2, "submissionTime": 5000, "completionTime": 5500, "stageIds": [2]},
    ]
    stages = {i: {"stageId": i, "status": "COMPLETE", "numCompleteTasks": 2,
                  "executorRunTime": 100 * (i + 1), "executorCpuTime": 0,
                  "jvmGcTime": 0, "shuffleWriteBytes": 0, "diskBytesSpilled": 0}
              for i in range(3)}
    m = layertrace.analyze(t, jobs, stages, 0.0, 10.0, 4)
    assert (m["cli.busy_s"], m["cli.self_s"]) == (10.0, 6.0)
    assert (m["io.bronze.busy_s"], m["io.bronze.self_s"]) == (4.0, 3.0)
    assert (m["cli.jobs"], m["formats.jobs"], m["io.bronze.jobs"]) == (1, 1, 1)
    assert m["io.bronze.task_s"] == pytest.approx(0.3)
    assert m["cli.driver_s"] == pytest.approx(5.5)
    assert m["spark.jobs"] == 3 and m["spark.idle_s"] == pytest.approx(8.6)
    assert layertrace.jobs_by_span(t, jobs, 0.0, 10.0) == {
        ("cli", "cmd_ingest"): 1, ("formats", "orc.read"): 1,
        ("io.bronze", "merge_into_bronze"): 1}


ORPHANING = """
import subprocess, sys
sys.path.insert(0, sys.argv[1])
from procstat import adopt_orphans, stop_tree
adopt_orphans()
# a child that starts a grandchild and exits at once, orphaning it
sh = subprocess.Popen(["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"],
                      stdout=subprocess.PIPE, text=True)
orphan = int(sh.stdout.readline())
sh.wait()
child = subprocess.Popen(["sleep", "60"])
stop_tree(grace=5)
print(orphan, child.pid)
"""


def test_stop_tree_ends_children_and_orphans():
    out = subprocess.run([sys.executable, "-c", ORPHANING, BENCH], capture_output=True,
                         text=True, timeout=60, check=True).stdout
    alive = [pid for pid in map(int, out.split()) if os.path.exists(f"/proc/{pid}")]
    for pid in alive:
        os.kill(pid, signal.SIGKILL)
    assert not alive, f"processes {alive} outlived the run"


def test_refuses_to_run_without_the_program(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "genie", "--seed", "1"]) == 2
    assert capsys.readouterr().out == ""
