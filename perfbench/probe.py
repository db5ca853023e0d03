"""Host-speed probe: one fixed, tiny Spark job, timed.

The benchmark shares a few cores of a host whose speed moves by up to
5x within minutes. Every run times the probe many times just before and
just after its window, and after each set-up, and scales its timings to
a host on which the probe takes ``PROBE_REF_S``. The probe uses Spark alone, never the
package, so a change to the package does not move it; a slower host
moves it as it moves the operations.
"""

from __future__ import annotations

import statistics
import time

PROBE_REF_S = 0.05


def host_probe(spark) -> float:
    """Seconds for a py4j round trip, planning and a two-task job: the
    fixed costs that most operations of the benchmark pay."""
    t = time.perf_counter()
    spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
    return time.perf_counter() - t


def host_factor(probes: list[float]) -> float:
    """Multiplier from this run's seconds to reference-host seconds."""
    return PROBE_REF_S / statistics.median(probes) if probes else 1.0
