"""Oncotree code dimension from the nested oncotree API JSON.

The reference builds its code→cancer-type mapping by recursing the
oncotree tumor-types JSON (genie/process_functions.py:708-753
``extract_oncotree_code_mappings_from_oncotree_json`` /
``get_oncotree_code_mappings``): every node contributes
CANCER_TYPE (mainType), CANCER_TYPE_DETAILED (name), and the level-1 /
level-2 ancestors as ONCOTREE_PRIMARY_NODE / ONCOTREE_SECONDARY_NODE.

The JSON is a KB-scale configuration artifact (≈900 codes), so the
recursion is a driver-side parse — the same gated-driver pattern as the
assay YAML reader — and the result becomes a broadcastable dim
DataFrame for the release's clinical join.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from genie_spark.session import local_rows_df

ONCOTREE_COLUMNS = [
    "ONCOTREE_CODE",
    "CANCER_TYPE",
    "CANCER_TYPE_DETAILED",
    "ONCOTREE_PRIMARY_NODE",
    "ONCOTREE_SECONDARY_NODE",
]


def flatten_oncotree(
    node: dict, primary: str = "", secondary: str = ""
) -> list[dict]:
    """Recursive flatten of one subtree (reference
    process_functions.py:708-739): ``node`` holds a ``children`` dict of
    code → {level, mainType, name, children}."""
    rows: list[dict] = []
    children = node.get("children") or {}
    for code, info in children.items():
        level = info.get("level")
        if level == 1:
            primary, secondary = code, ""
        elif level == 2:
            secondary = code
        rows.append(
            {
                "ONCOTREE_CODE": code.upper(),
                "CANCER_TYPE": info.get("mainType"),
                "CANCER_TYPE_DETAILED": info.get("name") or "",
                "ONCOTREE_PRIMARY_NODE": primary,
                "ONCOTREE_SECONDARY_NODE": secondary,
            }
        )
        if info.get("children"):
            rows.extend(flatten_oncotree(info, primary, secondary))
    return rows


def oncotree_df_from_json(spark: SparkSession, payload: dict) -> DataFrame:
    """Flatten a loaded oncotree JSON payload (rooted at ``TISSUE`` like
    the API response, or already at the tissue node) into the dim
    DataFrame the release joins against."""
    root = payload.get("TISSUE", payload)
    rows = flatten_oncotree(root)
    return local_rows_df(
        spark,
        [tuple(r[c] for c in ONCOTREE_COLUMNS) for r in rows],
        ", ".join(f"{c} string" for c in ONCOTREE_COLUMNS),
    )


def read_oncotree_json(spark: SparkSession, path: str) -> DataFrame:
    """Oncotree dim from a JSON file on local disk (the downloaded API
    response; reference get_oncotree_code_mappings fetches the same
    payload over HTTP)."""
    with open(path) as f:
        return oncotree_df_from_json(spark, json.load(f))
