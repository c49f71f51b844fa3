"""Validation-status table.

The reference keeps two Synapse tables per center
(genie/input_to_database.py:54-113 ``check_existing_file_status``,
479-644 ``validatefile``/``email_duplication_error``): per-file
validation status rows keyed by (name, md5) so an unchanged re-upload
skips revalidation, and an error tracker holding the report text of
invalid files.  Duplicate filenames within one upload batch are
rejected outright.

Here both are ONE parquet table in the warehouse, ``validation_status``
with the columns ``(center, name, md5, status, path, errors)``: one row
per (center, name), whose ``errors`` holds the report text of an
invalid file and is empty otherwise.  The md5 is computed driver-side
over the upload file, exactly where the reference reads the Synapse
entity md5.

The table is bookkeeping, one row per uploaded file, so it lives on
the driver: it is read with ``pyarrow.parquet`` and rewritten as one
parquet file, and no status check or update runs a Spark job.  A
Spark read-modify-write of a ten-row table pays a query's fixed cost
(planning, job submission, task launch) for every update.  Each
rewrite is staged and installed by the bronze tables' journaled
whole-table swap (``DEFAULT_COMMIT.commit_whole``); a read first rolls
an interrupted swap forward, so a kill mid-commit loses no row, and a
table that cannot be read raises instead of reading as empty.

Concurrent ingests in one process (the nightly sweep's batch threads)
share the table: one module lock covers each read-modify-write and
each status check, and the rows are stored sorted by (center, name),
so the table does not depend on the order the batches finished in.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading

import pyarrow as pa
import pyarrow.parquet as pq

from genie_spark.io.bronze import DEFAULT_COMMIT

STATUS_TABLE = "validation_status"

STATUS_SCHEMA = pa.schema(
    [(c, pa.string()) for c in ("center", "name", "md5", "status", "path", "errors")]
)

# one read-modify-write of the table at a time in this process
_LOCK = threading.Lock()


def file_md5(path: str) -> str:
    h = hashlib.md5()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def duplicate_basenames(paths: list[str]) -> list[str]:
    """Filenames appearing more than once in one upload batch — the
    reference rejects these before validation
    (input_to_database.py:595-644)."""
    names = [os.path.basename(p) for p in paths]
    return sorted({n for n in names if names.count(n) > 1})


def _read(warehouse: str) -> list[dict]:
    """The table's rows, or none when its directory is absent.  A
    commit that a kill interrupted is rolled forward first, so a table
    caught between its old and new directory reads as the new one,
    never as absent.  A present table that cannot be read raises — an
    unreadable table is never mistaken for an absent one, whose first
    update would overwrite every other file's row."""
    path = os.path.join(warehouse, STATUS_TABLE)
    DEFAULT_COMMIT.recover(path, clean_leftovers=False)
    if not os.path.isdir(path):
        return []
    return pq.read_table(path, schema=STATUS_SCHEMA).to_pylist()


def prior_status(warehouse: str, center: str, name: str, md5: str) -> str | None:
    """The stored status when (name, md5) is unchanged — meaning
    revalidation can be skipped (check_existing_file_status: a changed
    md5 or name forces ``to_validate``)."""
    with _LOCK:
        rows = _read(warehouse)
    for r in rows:
        if (r["center"], r["name"], r["md5"]) == (center, name, md5):
            return r["status"]
    return None


def record_status(
    warehouse: str,
    center: str,
    name: str,
    md5: str,
    status: str,
    path: str,
    errors: str = "",
) -> None:
    """Upsert the (center, name) row; ``errors`` is the file's report
    text, empty when it is valid.  The rows are stored sorted by
    (center, name)."""
    row = dict(center=center, name=name, md5=md5, status=status, path=path, errors=errors)
    target = os.path.join(warehouse, STATUS_TABLE)
    staging = DEFAULT_COMMIT.staging_path(target)
    with _LOCK:
        rows = [r for r in _read(warehouse) if (r["center"], r["name"]) != (center, name)]
        rows = sorted(rows + [row], key=lambda r: (r["center"], r["name"]))
        shutil.rmtree(staging, ignore_errors=True)
        os.makedirs(staging)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=STATUS_SCHEMA),
            os.path.join(staging, "part-00000.parquet"),
        )
        DEFAULT_COMMIT.commit_whole(staging, target)


def invalid_reason_texts(
    rows: list[dict], centers: list[str] | None = None
) -> dict[str, str]:
    """Per-center validation-error report text (reference
    genie/write_invalid_reasons.py:49-90) from status rows: each file
    with error text renders as ``\\t{name}:\\n\\n{errors}\\n\\n`` with
    the ``|`` separators restored to newlines; a center with no
    invalid files gets ``"No errors!"``."""
    by_center: dict[str, str] = {}
    for r in sorted(rows, key=lambda r: (r["center"], r["name"])):
        if r["errors"]:
            text = f"\t{r['name']}:\n\n{r['errors'].replace('|', chr(10))}\n\n"
            by_center[r["center"]] = by_center.get(r["center"], "") + text
    for c in centers or []:
        by_center.setdefault(c, "No errors!")
    return by_center


def write_invalid_reasons(
    warehouse: str, out_dir: str, centers: list[str] | None = None
) -> list[str]:
    """Write ``{center}_validation_errors.txt`` per center from the
    status table's error text (reference
    genie/write_invalid_reasons.py:14-45, minus the Synapse upload).
    Returns the written paths."""
    texts = invalid_reason_texts(_read(warehouse), centers)
    os.makedirs(out_dir, exist_ok=True)
    written = []
    for center, text in sorted(texts.items()):
        path = os.path.join(out_dir, f"{center}_validation_errors.txt")
        with open(path, "w") as f:
            f.write(text)
        written.append(path)
    return written
