"""Size-guarded broadcast — no unconditional ``F.broadcast`` of frames whose
row count grows with the corpus.

An unconditional broadcast hint forces a single-threaded driver hash build
and ships the full relation to every executor; fine for dictionary-sized
frames, a driver OOM (and an 8 GB hard cap) when the frame turns out to be
corpus-sized — node-distance tables, duplicate-id sets and usage rollups all
grow with input, not with a schema. A frame whose optimized plan already
proves a row bound (a ``limit(k)``, a driver-row ``LocalRelation``) needs no
probe. Any other frame is materialized once with an eager
``localCheckpoint`` (so the probe and every downstream consumer reuse the
computed rows instead of recomputing the subplan), then probed with
``limit(bound+1).count()`` — at most bound+1 rows move into one task, never
into driver memory. Bounded frames get the broadcast hint; unbounded ones are
left unhinted, where AQE picks the join strategy from the real post-shuffle
sizes (broadcast again if the runtime stats allow, sort-merge/shuffled-hash
otherwise — graceful at any scale).

``COGNEE_BROADCAST_ROW_BOUND`` (default 2,000,000 rows) sizes the guard: at
the ~50-100 B/row of the id/distance frames this engine broadcasts, the
default keeps built hash relations in the low hundreds of MB — inside the
"a few hundred MB is usually fine" broadcast envelope with margin to the
8 GB/512M-row hard cap. Production deployments tune it per executor memory;
the bench keeps the default, which never fires at test scale.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BROADCAST_ROW_BOUND = int(os.environ.get("COGNEE_BROADCAST_ROW_BOUND", "2000000"))


def plan_max_rows(df: DataFrame) -> int | None:
    """The row bound ``df``'s optimized plan proves (a ``LocalRelation``'s
    row count, a limit's k), or None when the plan proves none. Planning
    only: no Spark job."""
    max_rows = df._jdf.queryExecution().optimizedPlan().maxRows()
    return max_rows.get() if max_rows.isDefined() else None


def bounded_broadcast(
    df: DataFrame,
    bound_rows: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Broadcast ``df`` only when its plan or a probe proves it within
    ``bound_rows``.

    A plan that proves its own bound (a limit, a driver-row frame) is
    hinted as it is: no checkpoint, no probe. Otherwise the probe runs; pass
    ``materialize=False`` when the caller already localCheckpointed the
    frame (the probe then reads cached blocks either way). Returns the
    frame, hinted iff bounded.
    """
    bound = BROADCAST_ROW_BOUND if bound_rows is None else bound_rows
    max_rows = plan_max_rows(df)
    if max_rows is not None and max_rows <= bound:
        return F.broadcast(df)
    if materialize:
        df = df.localCheckpoint(eager=True)
    if df.limit(bound + 1).count() <= bound:
        return F.broadcast(df)
    return df
