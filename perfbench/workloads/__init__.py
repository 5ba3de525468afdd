"""The benchmark workloads, keyed by the name ``--workload`` takes.

Every workload module exposes ``SIZES`` (``full`` and ``toy``), ``stage``
(seeded input generation, outside the clock on every run), ``load`` (the set-up read
of the staged inputs), ``iteration`` (one timed, checked pass), and the
reducers ``end_to_end``, ``named_metrics`` and ``layer_metrics``.
"""

from workloads import crawl_rollup, forecast_panel
from workloads.common import LAYERS  # noqa: F401

ALL = {
    "crawl_rollup": crawl_rollup,
    "forecast_panel": forecast_panel,
}
