"""Registry wiring every query callable to its optional DuckDB oracle."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    analytics,
    asof,
    dedup,
    encode_queries,
    multimodal,
    similarity,
    streaming_agg,
    textops,
)
from .analytics_oracles import ANALYTICS_ORACLES
from .asof import ASOF_ORACLES
from .dedup import DEDUP_ORACLES
from .encode_queries import ENCODE_ORACLES
from .multimodal import MULTIMODAL_ORACLES
from .similarity import SIMILARITY_ORACLES
from .streaming_agg import STREAMING_AGG_ORACLES
from .textops import TEXTOPS_ORACLES

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, QueryFn] = {}
for mod in (
    analytics,
    asof,
    textops,
    dedup,
    similarity,
    multimodal,
    encode_queries,
    streaming_agg,
):
    for name in dir(mod):
        if name.startswith("q") and name[1:3].isdigit():
            REGISTRY[name] = getattr(mod, name)

ORACLES: dict[str, str] = {}
for oracles in (
    ANALYTICS_ORACLES,
    ASOF_ORACLES,
    TEXTOPS_ORACLES,
    DEDUP_ORACLES,
    SIMILARITY_ORACLES,
    MULTIMODAL_ORACLES,
    ENCODE_ORACLES,
    STREAMING_AGG_ORACLES,
):
    ORACLES.update(oracles)

# every query has an oracle and every oracle a query
_unpaired = set(ORACLES) ^ set(REGISTRY)
if _unpaired:  # pragma: no cover - import-time sanity
    raise RuntimeError(f"queries and oracles unpaired: {sorted(_unpaired)}")

# --- insertion-order policy for the driver's bounded correctness window ---
# The driver compares the FIRST 50 registry entries against their DuckDB
# oracles; anything past the window gets no correctness row.  Order
# therefore encodes priority: queries ascending by number, EXCEPT the
# demoted ones whose SURVEY §2 row is already proven by another green
# query (q16 ⊂ A10 via q40, q44 ⊂ cosine via q45, q46 ⊂ LSH buckets via
# q66 + top-5 ranking via q45, q24/q23 ⊂ F-family via q22/q25/q26 +
# transform pytest, and q23's histogram-on-computed-key shape ⊂ A6 via
# q13) — these ride at the back so the window always prefers
# unique-capability proofs (q24's slot went to q64, the stateful
# streaming-sessionization proof; q23's to the IVF ANN q54).
# All entries remain registered and value-checked by test_oracle_parity.py
# regardless of position.  The 50-slot budget is EXECUTABLY guarded by
# tests/test_registry_window.py: adding a query without a matching
# demotion fails the suite loudly instead of silently evicting a green row
# (the round-3 bug class).
DRIVER_WINDOW = 50
_DEMOTED = (
    "q16_duplicate_events",
    "q44_top20_similar_pairs",
    "q24_ship_month",
    "q23_props_extract",
    # q46 = q66's LSH buckets (same kernel, planes and candidate CTE) +
    # q45's exact top-5 ranking; both of those hold window slots
    "q46_ann_lsh_topk",
)

REGISTRY = dict(
    sorted(REGISTRY.items(), key=lambda kv: (kv[0] in _DEMOTED, kv[0]))
)
