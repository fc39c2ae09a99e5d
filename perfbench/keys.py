"""The registry keys the registry workloads run, pinned by name.

A full pass over all 323 keys takes about 290 s at sf0.1 on a 4-core
host, longer than one benchmark run may last, so the workloads run a
fixed 4% of the registry, drawn once by time weight from a full
traced pass on the sf0.1 fixture: per key-prefix family, the keys
sorted by wall and cut into ``max(1, round(0.03 * n))`` groups of
equal count, and from each group the key whose wall is nearest the
group's mean, except the graph family's: every graph key pays a
per-session co-purchase edge build (``q_graph_bfs``, the one drawn,
took 8.4 s in a fresh session against 2.7 s in the warm pass), which
alone would be a fifth of the pass and leaves a traced run no room in
its time limit. Light and heavy keys are both in: the pinned keys carry
5% of the full pass's wall and 4% of its executor CPU, at 0.57 CPU-s
per second of wall against the full pass's 0.66, so a compute cut on
the heavy keys moves this subset somewhat less than the full pass. With
one or two keys a family, the per-family share runs from 1% to 27%.
The fraction is as large as the run's time budget allows (a fresh
session takes about twice the warm pass's wall for the same keys).
Shares in that pass (traced, 4-core host):

| family | keys | wall s, all | wall s, pinned | CPU-s, all | CPU-s, pinned |
|---|---|---|---|---|---|
| tpch | 1/22 | 16.5 | 0.7 (4%) | 12.5 | 0.5 (4%) |
| agg | 1/39 | 61.2 | 1.6 (3%) | 43.9 | 0.5 (1%) |
| join | 1/23 | 23.4 | 1.1 (5%) | 13.7 | 0.8 (6%) |
| graph | 0/12 | 31.7 | 0.0 (0%) | 45.6 | 0.0 (0%) |
| llm | 2/66 | 63.1 | 1.9 (3%) | 36.2 | 1.1 (3%) |
| stream | 1/15 | 39.8 | 2.6 (7%) | 13.4 | 0.7 (5%) |
| ts | 1/23 | 18.4 | 0.8 (4%) | 12.3 | 0.9 (8%) |
| scan | 1/13 | 21.8 | 1.7 (8%) | 14.2 | 1.2 (8%) |
| fn | 1/23 | 17.3 | 0.6 (4%) | 10.6 | 0.4 (4%) |
| udf | 1/8 | 2.6 | 0.3 (11%) | 1.6 | 0.1 (6%) |
| sink | 1/6 | 15.0 | 3.0 (20%) | 8.6 | 2.3 (27%) |
| events | 1/14 | 12.3 | 0.9 (7%) | 6.5 | 0.6 (9%) |
| other | 2/59 | 38.0 | 1.3 (3%) | 18.2 | 0.5 (3%) |
| total | 14/323 | 361.0 | 16.4 (5%) | 237.3 | 9.4 (4%) |

CPU-s is executor task CPU from the status API. The keys are pinned by
name so that adding, removing or reordering registry keys
(``load_all()``'s verification-priority rotation) cannot move the
numbers; a pinned key that disappears is reported as missing and
counted as failed.
"""

from __future__ import annotations

import hashlib

KEYS: tuple[str, ...] = (
    "q_agg_gini",
    "q_dq_psi",
    "q_events_concurrency",
    "q_fn_json",
    "q_join_asof_nearest",
    "q_llm_contamination",
    "q_llm_domain_stats",
    "q_scan_text_lines",
    "q_sink_zorder",
    "q_sql_pipe",
    "q_stream_update_mode",
    "q_tpch_q16",
    "q_ts_session_window",
    "q_udf_grouped_arrow",
)

# The full registry key set this subset was drawn from.
REGISTRY_SIZE = 323
REGISTRY_SHA = "22083ef3a9fb838d"

FAMILIES = ("tpch", "agg", "join", "graph", "llm", "stream", "ts", "scan",
            "fn", "udf", "sink", "events")

# Keys compared with their DuckDB oracle after each timed pass.
ORACLE_SAMPLE = 2


def family(key: str) -> str:
    prefix = key[2:].split("_")[0]
    return prefix if prefix in FAMILIES else "other"


def keyset_sha(keys) -> str:
    return hashlib.sha256("\n".join(sorted(keys)).encode()).hexdigest()[:16]
