"""The engine reads only deployment settings from the environment.

A behaviour switch read from an env var is a second code path no caller
selects on purpose; once its A/B is settled the losing side goes. This
guard fails when a new ``os.environ.get(...)`` / ``os.environ[...]`` /
``os.getenv(...)`` read appears under ``auncel_spark/``."""

from __future__ import annotations

import re
from pathlib import Path

ENGINE = Path(__file__).resolve().parent.parent / "auncel_spark"
DEPLOYMENT_SETTINGS = {"SPARK_GRAFT_CPUS", "SPARK_MASTER", "SPARK_DRIVER_MEM"}
# the first argument of each read; a non-literal name shows up as-is
ENV_READ = re.compile(r"os\.(?:environ\.get\(|environ\[|getenv\()\s*([^,)\]]+)")


def test_engine_env_reads_are_deployment_settings_only():
    found: dict[str, list[str]] = {}
    for py in sorted(ENGINE.rglob("*.py")):
        for m in ENV_READ.finditer(py.read_text()):
            name = m.group(1).strip().strip("'\"")
            found.setdefault(name, []).append(str(py.relative_to(ENGINE)))
    assert set(found) == DEPLOYMENT_SETTINGS, found
