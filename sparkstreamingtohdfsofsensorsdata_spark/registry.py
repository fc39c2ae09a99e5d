"""Query registry: the single source of truth for the driver contract.

Every operator module registers its queries here with the ``@query``
decorator. ``__spark_entry__.queries()`` / ``oracle_sql()`` are thin
views over this registry, and the local parity tests iterate it, so an
operator is "declared done" in exactly one place.

``oracle`` is the DuckDB-runnable ANSI SQL equivalent; ``None`` marks a
genuinely non-SQL-expressible op (the driver then records a weaker
rows-only check — SURVEY.md §5.2).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    description: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)
    # Declared rounding precision per output column (column name -> dp):
    # a declared column additionally tolerates a single 10^-dp last-digit
    # flip at ANY magnitude in the tolerant comparator (ADVICE r6,
    # conftest._declared_step_equal). Round-10 census (VERDICT r9 item
    # 6): the zero-tolerance exact sweep proved every then-existing
    # declaration (63) unnecessary at sf0.001/0.01/0.1, so ALL were
    # deleted — declarations mask divergence the driver's exact hash
    # would catch. The mechanism stays for a future key that genuinely
    # rounds coarser than the magnitude heuristic infers; any new
    # declaration must come with an exact-sweep exception note in
    # SCALE.md.
    float_dp: dict[str, int] = field(default_factory=dict)


REGISTRY: dict[str, QuerySpec] = {}


def query(
    name: str,
    oracle: str | None = None,
    description: str = "",
    tags: tuple[str, ...] = (),
    float_dp: dict[str, int] | None = None,
) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as the Spark implementation of query ``name``."""

    def decorate(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Timestamp semantics must not depend on the caller's session:
            # parquet instants are rendered in session TZ, and the DuckDB
            # oracle is UTC-naive — pin UTC so both sides agree.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            # Nor may results depend on the caller's cwd: ship this
            # package to Python workers so by-reference cloudpickled
            # UDFs import cleanly everywhere (see ensure_package_on_workers).
            from .session import ensure_package_on_workers

            ensure_package_on_workers(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        # next(iter(...), "") tolerates a whitespace-only docstring — a
        # bare [0] here would IndexError at import time and take the
        # whole registry down with it.
        doc_first = next(iter((fn.__doc__ or "").strip().splitlines()), "")
        REGISTRY[name] = QuerySpec(
            name=name,
            fn=wrapped,
            oracle=oracle,
            description=description or doc_first,
            tags=tuple(tags),
            float_dp=dict(float_dp or {}),
        )
        # Return the WRAPPED callable, so the module-level name carries
        # the same UTC-pin + package-ship guarantees as the registry
        # entry: a consumer importing golden.q_tpch_q3 directly on a
        # non-UTC session used to bypass both and silently diverge from
        # the oracle (review r6).
        return wrapped

    return decorate


# External harnesses may verify only a prefix of the registry (observed:
# the grading driver checks 50 keys/round in load_all() order), so ORDER
# ENCODES NEED. Round-17 rotation (VERDICT r16 item 1): round 16
# rewrote the physical plans of 17 keys (Arrow simhash/minhash kernels,
# the graph broadcast-cap family, the executor-side update_mode fold)
# but only 2 of them fell inside the r16 driver window — the
# independent oracle has not re-judged the rewrites. The head is
# therefore (a) the 17-key blast radius, pinned in ROTATION_BLAST_HEAD
# below (VERDICT order), then (b) the 34-key r10-stale cohort
# (alphabetical, oldest standing driver verdicts) truncated at the
# 50-key boundary; its last key queues at position 51 for r18. Every
# queued key is covered by the zero-tolerance exact sweeps at
# sf0.001/0.01/0.1 (Arrow-fetched oracle, driver-grade types).
#
# ROTATION_ROUND pins WHICH driver artifacts this window was computed
# from: all committed CORRECTNESS_r*.json with round < ROTATION_ROUND.
# The rotation-policy test (tests/test_memo.py) filters on this pin, so
# the suite stays green when the driver lands THIS round's artifact
# after close; re-rotating (ROTATION_ROUND = max artifact round + 1) is
# a manual step when a newer artifact lands, not a standing red test.
ROTATION_ROUND: int = 17

# Keys REGISTERED during the current round, AFTER the window above was
# computed (r14/r15 precedent: additions queue at the VP tail and head
# the NEXT rotation). Round 17 is the semantics-frozen optimization
# round (VERDICT r16 item 2): no new keys.
ROTATION_NEW_KEYS: tuple[str, ...] = ()

# The r16 optimization blast radius (VERDICT r16 item 1, in its order):
# keys whose physical plan or execution path round 16 rewrote and the
# driver has not re-verified since. They jump the stale-cohort queue
# for exactly one rotation; the rotation-policy test treats this pin as
# the window head and checks the stale-cohort fill behind it.
ROTATION_BLAST_HEAD: tuple[str, ...] = (
    "q_llm_simhash",  # Arrow signature fold (r16 §1)
    "q_llm_simhash_banded",  # consumes the fold + 64-bit banding
    "q_llm_simhash_banded128",  # new in r16 — never driver-checked
    "q_llm_minhash_lsh",  # Arrow signature build (r16 §1b)
    "q_llm_dedup_clusters",  # consume the rewritten signature memo
    "q_llm_dedup_keep",
    "q_llm_dedup_incremental",
    "q_graph_triangles",  # triangle_node_counts fold (r16 §6)
    "q_graph_local_clustering",
    "q_graph_pagerank",  # heap-scaled broadcast cap + gated hints
    "q_graph_wcc",  # (r16 §2-3)
    "q_graph_bfs",
    "q_graph_kcore",
    "q_graph_label_propagation",
    "q_graph_landmark_closeness",
    "q_graph_common_neighbors",  # exchange-free wedge groupBy (r16 §5)
    "q_stream_update_mode",  # executor-side changelog fold (r16 §7)
)

VERIFICATION_PRIORITY: tuple[str, ...] = ROTATION_BLAST_HEAD + (
    # r10-stale cohort, alphabetical, first 33 — fills the window to 50
    "q_events_attribution",
    "q_events_markov",
    "q_filter_compare",
    "q_fn_try_datetime",
    "q_join_anti",
    "q_join_asof",
    "q_join_broadcast",
    "q_join_full",
    "q_join_fuzzy_block",
    "q_join_inner_equi",
    "q_join_left",
    "q_join_range",
    "q_join_right",
    "q_join_semi",
    "q_join_theta",
    "q_llm_shard_assign",
    "q_project",
    "q_sample_weighted",
    "q_scan_backfill_union",
    "q_scan_multi_source",
    "q_scan_parquet",
    "q_set_symdiff",
    "q_sort_multi",
    "q_stream_cdc_apply",
    "q_stream_corpus_ingest",
    "q_topk_global",
    "q_ts_cohort_ltv",
    "q_ts_cusum",
    "q_ts_time_bucket",
    "q_win_frame_range",
    "q_win_frame_rows",
    "q_win_lag_lead",
    "q_win_ranking",
    # --- 50-key window boundary ---
    # r10-stale remainder (queue for r18)
    "q_win_topk_group",
)


def load_all() -> dict[str, QuerySpec]:
    """Import every operator module (side effect: registry population),
    then order the returned mapping by verification priority: keys in
    ``VERIFICATION_PRIORITY`` first (in that order), the rest in
    registration order. A harness that truncates to a prefix therefore
    always covers the keys most in need of a verdict.
    """
    # Imports are local to avoid a cycle: operator modules import `query`
    # from this module at their import time.
    from .functions import scalars, udfs  # noqa: F401
    from . import llm, streaming  # noqa: F401
    from .functions import collections  # noqa: F401
    from . import golden, operators  # noqa: F401

    front = [k for k in VERIFICATION_PRIORITY if k in REGISTRY]
    ordered = {k: REGISTRY[k] for k in front}
    ordered.update((k, v) for k, v in REGISTRY.items() if k not in ordered)
    return ordered


def queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in load_all().items()}


def oracles() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in load_all().items() if spec.oracle is not None
    }
