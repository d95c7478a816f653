"""External-libs conformance runner (VERDICT r7 #8).

Three of the engine's capabilities are twinned against external
libraries that may be absent: the real-H3 cell backend
(functions/cells_h3.py), the PIL image codec (functions/imagecodec.py)
and the real Iceberg catalog binding (sources/tables.py behind
``EGP_ICEBERG_CATALOG``). Their in-repo stand-ins execute everywhere
(Morton + native S2 cells, the deterministic codec, the snaplog catalog
emulation), and the import-gated twins carry conformance suites that
SKIP when the library is missing.

This script is the one command a real-cluster run needs to certify the
gated claims: it probes each external dependency, runs the matching
conformance suite for every one that is present, performs a live
Iceberg write/read/time-travel roundtrip when a catalog is configured,
and writes a single JSON report. In the sandbox it skips everything
cleanly and says so — a report full of "absent" is the expected
sandbox output, not a failure.

Usage:
    python tools/external_check.py [--report external_report.json]

On a cluster:
    EGP_ICEBERG_CATALOG=my_catalog spark-submit --py-files egp_crn_spark \
        tools/external_check.py

Exit code: 0 if nothing that RAN failed (absent == skip), 1 otherwise.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _probe(module: str) -> bool:
    try:
        importlib.import_module(module)
        return True
    except Exception:
        return False


def _run_pytest(args: list[str]) -> dict:
    """Run a pytest selection in a subprocess; parse the tail counts."""
    cmd = [sys.executable, "-m", "pytest", "-q", *args]
    proc = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True,
                          timeout=1800)
    tail = (proc.stdout.strip().splitlines() or [""])[-1]
    return {
        "cmd": " ".join(cmd[2:]),
        "exit_code": proc.returncode,
        "summary": tail,
        "ok": proc.returncode == 0,
    }


def check_h3() -> dict:
    """Real-H3 backend: the cells_h3 twin + its conformance battery
    (backend-agnostic axioms run against real h3, plus the measured
    k-ring-width coverage tests that only execute with the library)."""
    present = _probe("h3")
    out = {"dependency": "h3", "present": present}
    if not present:
        out["status"] = "absent — cells_s2 native backend is the geodesic default"
        return out
    out["pytest"] = _run_pytest(
        ["tests/test_cells_conformance.py", "tests/test_cells.py"])
    out["status"] = "ran" if out["pytest"]["ok"] else "FAILED"
    return out


def check_pil() -> dict:
    """Real image codec: functions/imagecodec.py prefers PIL when
    importable (HAS_PIL); the codec parity tests then exercise the real
    decode path next to the deterministic stand-in."""
    present = _probe("PIL")
    out = {"dependency": "PIL", "present": present}
    if not present:
        out["status"] = "absent — deterministic stand-in codec in use"
        return out
    out["pytest"] = _run_pytest(["tests/test_imagecodec.py"])
    out["status"] = "ran" if out["pytest"]["ok"] else "FAILED"
    return out


def check_iceberg() -> dict:
    """Live Iceberg roundtrip: only meaningful with EGP_ICEBERG_CATALOG
    set AND the runtime jars on the session classpath. Writes a tiny
    table through the sources.tables seam, reads it back, appends,
    time-travels to the first snapshot, and drops it."""
    catalog = os.environ.get("EGP_ICEBERG_CATALOG")
    out = {"dependency": "iceberg", "present": catalog is not None,
           "catalog": catalog}
    if catalog is None:
        out["status"] = ("absent — snaplog catalog emulation in use "
                         "(set EGP_ICEBERG_CATALOG on a cluster with the "
                         "iceberg-spark-runtime jar)")
        return out
    from pyspark.sql import functions as F

    from egp_crn_spark.session import get_session
    from egp_crn_spark.sources.tables import drop_table, load_table, save_table

    spark = get_session("external_check")
    name = f"{catalog}.default.egp_external_check"
    try:
        base = spark.range(8).select(
            F.col("id"), (F.col("id") * 10).alias("v"))
        save_table(base, name, mode="overwrite")
        got1 = load_table(spark, name)
        assert got1.count() == 8, "overwrite readback count"
        first_snap = spark.sql(
            f"select snapshot_id from {name}.snapshots order by committed_at"
        ).first()[0]
        save_table(base.withColumn("v", F.col("v") + 1), name, mode="append")
        assert load_table(spark, name).count() == 16, "append count"
        tt = load_table(spark, name, snapshot=str(first_snap))
        assert tt.count() == 8, "time travel to first snapshot"
        out["roundtrip"] = {"overwrite": 8, "append": 16, "time_travel": 8,
                            "first_snapshot_id": int(first_snap)}
        out["status"] = "ran"
    except Exception as e:  # report, don't crash the whole certification
        out["status"] = "FAILED"
        out["error"] = f"{type(e).__name__}: {e}"
    finally:
        try:
            drop_table(spark, name)
        except Exception:
            pass
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--report", default=os.path.join(REPO, "external_report.json"))
    args = ap.parse_args()

    checks = [check_h3(), check_pil(), check_iceberg()]
    ran = [c for c in checks if c["present"]]
    failed = [c for c in checks if c.get("status") == "FAILED"]
    report = {
        "checks": checks,
        "n_present": len(ran),
        "n_absent": len(checks) - len(ran),
        "n_failed": len(failed),
        "verdict": ("all external conformance suites that could run passed"
                    if not failed else
                    f"{len(failed)} external check(s) FAILED"),
    }
    with open(args.report, "w") as f:
        json.dump(report, f, indent=2)
    print(json.dumps(report, indent=2))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
