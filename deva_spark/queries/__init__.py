"""Declared correctness queries (SURVEY.md §2.12) + extended pipeline ops.

Each entry pairs a Spark DataFrame implementation (built from the operator
library) with an ANSI-SQL oracle string that DuckDB runs over the same
parquet views. The driver hash-compares sorted values per column name, so
every computed column is aliased identically on both sides.

Determinism contract (SURVEY.md §7.3):
  * order-sensitive ops key on the explicit (ts, event_id) total order;
  * money sums cast to DECIMAL before SUM so the result is independent of
    partition/accumulation order, then ROUND(...,2) and cast back to double
    (identical rounding semantics: both engines round half away from zero);
  * ratio thresholds use integer cross-multiplication (no float boundary);
  * similarity scores are rounded before ranking with an id tie-break.

Package layout (VERDICT r11 #7 — the registry grew ~500 lines/round as
one module; split into themed tiers, re-exported here so the driver
contract ``deva_spark.queries.SPARK_QUERIES`` / ``ORACLE_SQL`` and every
``Q.<name>`` consumers use are untouched):

  * ``_infra``       registry decorator, table loads, staged artifacts
  * ``declared``     q01-q35, the declared-query contract
  * ``similarity``   x01-x32: text metrics, near-dup, ANN, rel. extensions
  * ``curation``     x33-x59: streaming drains, curation, sampling
  * ``analytics``    x60-x72: sketches, pagerank, funnels, weighted sampling
  * ``incremental``  x73-x99: incremental tiers, retraction, skew/zorder
  * ``multimodal``   x100-x111: chunking, IVF-PQ, CJK, codecs, chain CC

Submodule import ORDER below is registration order (pre-rotation); the
driver window itself is canonicalized by ``_rotate_registry`` at the end
of this file, so the split cannot silently reorder the first 50.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from deva_spark.queries._infra import (  # noqa: F401 -- public re-exports
    ARTIFACT_BUILDERS,
    ARTIFACT_STAGERS,
    ORACLE_SQL,
    SPARK_QUERIES,
    query,
    stage_artifacts,
    staged_artifact_path,
    _t,
)
from deva_spark.session import load_tables  # noqa: F401 -- Q.load_tables

# registration happens at import, in this order (q01..q35, x01..x111)
from deva_spark.queries import declared  # noqa: E402,F401
from deva_spark.queries import similarity  # noqa: E402,F401
from deva_spark.queries import curation  # noqa: E402,F401
from deva_spark.queries import analytics  # noqa: E402,F401
from deva_spark.queries import incremental  # noqa: E402,F401
from deva_spark.queries import multimodal  # noqa: E402,F401
from deva_spark.queries.multimodal import flagship  # noqa: F401


# ---------------------------------------------------------------------------
# Driver-window rotation (VERDICT r2 "Next round" #1): the driver's
# CORRECTNESS file records the FIRST 50 registered queries only, so the
# registry reorders itself each round to put the queries that most need
# a driver row first. Since r13 the window is DERIVED from the committed
# CORRECTNESS_r*.json history (VERDICT r12 "wrong" #1 — the previous
# hand-maintained 48-name literal was one fat-finger away from silently
# skewing the rotation, and the data to compute it was already in the
# repo): entries never driver-recorded (this round's new registrations)
# are guaranteed a slot, and the rest of the window fills with the
# entries whose latest GREEN driver row is oldest, ties broken by
# registration order. With a 147-entry registry and a 50-row window the
# steady state is a 3-round cycle in which every entry's evidence stays
# <= 2 rounds old — exactly the invariant the accounting test
# (tests/test_plan_shapes.py) checks, now against the same files the
# derivation reads. Local tooling (tools/check_correctness.py, bench.py)
# still runs every entry every time.
# ---------------------------------------------------------------------------


def _green(row: object) -> bool:
    """A driver row counts only if the driver verified it fully — a red
    or rows-only row (e.g. x107's ``no_oracle`` in r10) must NOT push an
    entry to the back of the rotation."""
    return (
        isinstance(row, dict)
        and row.get("rows_match") is True
        and row.get("schema_match") is True
        and row.get("hash_match") is True
    )


def _correctness_history() -> tuple[dict[str, int], dict[str, int], int]:
    """Scan repo-root CORRECTNESS_r*.json: (latest green round per entry,
    latest ANY-row round per entry, newest round number on disk)."""
    import glob
    import json
    import os

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    latest_green: dict[str, int] = {}
    latest_seen: dict[str, int] = {}
    newest = 0
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue  # a torn artifact must not take down every query
        if not isinstance(rows, dict):
            continue
        newest = max(newest, rnd)
        for k, v in rows.items():
            latest_seen[k] = max(latest_seen.get(k, 0), rnd)
            if _green(v):
                latest_green[k] = max(latest_green.get(k, 0), rnd)
    return latest_green, latest_seen, newest


def _derive_rotation() -> tuple[tuple[str, ...], tuple[str, ...]]:
    """(window head, deferrals) from the correctness history.

    Head = never-recorded registrations (guaranteed their first driver
    row) + oldest-latest-green entries, in staleness-then-registration
    order, clipped to 50. Deferrals = entries whose evidence is already
    >= 2 rounds old (so the next accounting window won't cover them)
    that did not fit — recorded programmatically, not by hand.
    """
    names = list(SPARK_QUERIES)
    green, seen, newest = _correctness_history()
    if newest == 0:
        # No CORRECTNESS history on disk (installed wheel / shallow
        # checkout): every entry counts as never-recorded and the window
        # silently degrades to the first 50 registration-order entries —
        # make that visible instead of silent (ADVICE r13)
        import warnings

        warnings.warn(
            "no CORRECTNESS_r*.json history found next to the package: "
            "driver-window rotation falls back to registration order",
            RuntimeWarning,
            stacklevel=2,
        )
    order = {k: i for i, k in enumerate(names)}
    new = [k for k in names if k not in seen]  # first row still owed
    stale = sorted(
        (k for k in names if k in seen),
        key=lambda k: (green.get(k, 0), order[k]),
    )
    head = new[:50] + stale[: max(0, 50 - len(new))]
    window = set(head)
    needy = [k for k in stale if green.get(k, 0) <= newest - 2]
    return tuple(head), tuple(k for k in needy if k not in window)


_DRIVER_FIRST, _DEFERRED_TO_NEXT = _derive_rotation()


def _rotate_registry() -> None:
    # The driver records only the first 50 rows: overflowing the window
    # would silently un-verify whatever lands past it (ADVICE r4); the
    # derivation clips to 50 by construction.
    first = _DRIVER_FIRST
    for d in (SPARK_QUERIES, ORACLE_SQL):
        head = {k: d[k] for k in first if k in d}
        tail = {k: v for k, v in d.items() if k not in head}
        d.clear()
        d.update(head)
        d.update(tail)


_rotate_registry()
