"""Temporal graph extraction — E7 of SURVEY.md §2.3.

The reference's temporal pipeline (cognee/tasks/temporal_graph/
extract_events_and_entities.py:13-37, models.py Timestamp/Event,
generate_event_datapoint.py:5-47, add_entities_to_event.py:9-60) extracts
Event datapoints with normalized timestamps from chunk text via an LLM,
enriches descriptions with "Time data: ..." context, and attaches entities
to events with typed edges.

Spark re-expression, deterministic stand-in for the LLM (same seam as the
NL extractor — swap is config):

- extract_events: Arrow-batched sentence scanner for date expressions
  (ISO dates, "from YYYY to YYYY" ranges, "in/since/until YYYY"); each hit
  becomes an Event row with reference-normalized timestamps (missing month/
  day default to 1, missing time to 0 — models.py:5-17) and a deterministic
  id_for("Event", name) id.
- events_to_datapoints: 'at' vs 'during' temporal shape + the reference's
  description enrichment ("\\n---\\nTime data: X to Y"), pure codegen.
- event_entity_edges: CamelCase tokens in the event sentence become
  involved entities (Entity.id_for ids) — the deterministic stand-in for
  the entity-attribution LLM call.
- events_in_interval: QueryInterval filtering (temporal search pre-filter),
  a pushdown-friendly native range predicate.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cognee_spark.functions.ids import id_for_col

_DATE_ISO = re.compile(r"\b(\d{4})-(\d{2})-(\d{2})\b")
_RANGE_YEARS = re.compile(r"\bfrom\s+(\d{4})\s+to\s+(\d{4})\b", re.IGNORECASE)
_IN_YEAR = re.compile(r"\b(?:in|since|until|by)\s+([12]\d{3})\b", re.IGNORECASE)
_SENTENCE_SPLIT = re.compile(r"(?<=[.!?])\s+")


def _ts(year: int, month: int = 1, day: int = 1) -> str:
    """Reference timestamp normalization: unknown parts default to 1/0
    (models.py:5-17). Rendered as the reference's timestamp_str."""
    return f"{year:04d}-{month:02d}-{day:02d} 00:00:00"


def extract_events_py(text: str) -> list[dict]:
    """Sentence-level event extraction (pure kernel; oracle-auditable)."""
    out: list[dict] = []
    for sentence in _SENTENCE_SPLIT.split(text or ""):
        sentence = sentence.strip()
        if not sentence:
            continue
        time_from = time_to = None
        if m := _RANGE_YEARS.search(sentence):
            time_from, time_to = _ts(int(m.group(1))), _ts(int(m.group(2)))
        else:
            isos = _DATE_ISO.findall(sentence)
            if len(isos) >= 2:
                time_from = _ts(int(isos[0][0]), int(isos[0][1]), int(isos[0][2]))
                time_to = _ts(int(isos[1][0]), int(isos[1][1]), int(isos[1][2]))
            elif len(isos) == 1:
                time_from = _ts(int(isos[0][0]), int(isos[0][1]), int(isos[0][2]))
            elif m := _IN_YEAR.search(sentence):
                time_from = _ts(int(m.group(1)))
        if time_from is None:
            continue
        name = sentence.rstrip(".!?")
        out.append(
            {
                "name": name,
                "description": name,
                "time_from": time_from,
                "time_to": time_to,
            }
        )
    return out


_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("time_from", T.StringType(), True),
        T.StructField("time_to", T.StringType(), True),
        T.StructField("chunk_id", T.StringType(), True),
        T.StructField("content_sha", T.StringType(), True),
    ]
)


def extract_events(chunks: DataFrame, text_col: str = "text") -> DataFrame:
    """chunks(chunk_id, text, content_sha) → raw event rows (narrow stage)."""
    passengers = [c for c in ("chunk_id", "content_sha") if c in chunks.columns]
    src = chunks.select(F.col(text_col).alias("text"), *passengers)

    def run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                for ev in extract_events_py(rec.text):
                    for col in passengers:
                        ev[col] = getattr(rec, col)
                    rows.append(ev)
            yield pd.DataFrame(rows, columns=[f.name for f in _EVENT_SCHEMA])

    return src.mapInPandas(run, _EVENT_SCHEMA)


def events_to_datapoints(events: DataFrame) -> DataFrame:
    """Event datapoints with deterministic ids and the reference's temporal
    description enrichment (generate_event_datapoint.py:24-47)."""
    during = F.col("time_from").isNotNull() & F.col("time_to").isNotNull()
    at = F.col("time_from").isNotNull() & F.col("time_to").isNull()
    temporal_info = F.when(
        during,
        F.concat(F.lit("\n---\nTime data: "), F.col("time_from"), F.lit(" to "), F.col("time_to")),
    ).when(at, F.concat(F.lit("\n---\nTime data: "), F.col("time_from")))
    return events.select(
        id_for_col("Event", F.col("name")).alias("event_id"),
        "name",
        F.concat(F.coalesce("description", F.lit("Event")), F.coalesce(temporal_info, F.lit("")))
        .alias("description"),
        F.when(during, F.lit("during")).when(at, F.lit("at")).alias("temporal_kind"),
        F.to_timestamp("time_from").alias("time_from"),
        F.to_timestamp("time_to").alias("time_to"),
        *(c for c in ("chunk_id", "content_sha") if c in events.columns),
    ).dropDuplicates(["event_id"])


def event_entity_edges(events: DataFrame) -> DataFrame:
    """(event_id, relationship, entity_id, entity_name) involvement edges —
    deterministic stand-in for add_entities_to_event.py:9-60. CamelCase
    tokens in the event sentence are the involved entities; token split +
    rlike stays in codegen."""
    return (
        events.select(
            id_for_col("Event", F.col("name")).alias("event_id"),
            F.explode(F.split("name", "[^A-Za-z0-9]+")).alias("entity_name"),
        )
        .where(F.col("entity_name").rlike("^[A-Z][a-z0-9]+([A-Z][a-z0-9]+)+$"))
        .distinct()
        .select(
            "event_id",
            F.lit("involves").alias("relationship"),
            id_for_col("Entity", F.col("entity_name")).alias("entity_id"),
            "entity_name",
        )
    )


def events_in_interval(
    events: DataFrame,
    starts_at: str | None = None,
    ends_at: str | None = None,
    time_col: str = "time_from",
) -> DataFrame:
    """QueryInterval filter (models.py QueryInterval: open-ended bounds)."""
    out = events
    if starts_at is not None:
        out = out.where(F.col(time_col) >= F.to_timestamp(F.lit(starts_at)))
    if ends_at is not None:
        out = out.where(F.col(time_col) < F.to_timestamp(F.lit(ends_at)))
    return out


# --- temporal retriever (SearchType TEMPORAL) ------------------------------------
#
# The reference's TemporalRetriever (cognee/modules/retrieval/
# temporal_retriever.py:89-173) runs: extract a QueryInterval from the
# question (LLM structured output, extract_query_time.txt prompt) →
# collect_time_ids over the graph's at/during edges → collect those events →
# vector-search the Event_name collection with the query embedding → keep the
# top_k events by ascending score (missing score = +inf) → context is the
# event DESCRIPTIONS joined by "\n#####################\n". No window, or no
# events in the window → fall back to plain triplet search (get_triplets).
#
# Spark re-expression: the interval extractor is a deterministic parser with
# the same optional-LLM seam shape as nlsearch (a callable returning JSON;
# malformed output falls back to the parser); the time filter is a native
# range predicate (partition/pushdown friendly); event relevance scores come
# in as a (event_id, score) frame from whichever R1 path embedded the
# question; the top-k is TakeOrderedAndProject.

_QI_DATE = r"(\d{4}(?:-\d{2}(?:-\d{2})?)?)"
_QI_RANGE = re.compile(rf"\b(?:from|between)\s+{_QI_DATE}\s+(?:to|and|until)\s+{_QI_DATE}", re.I)
_QI_SINCE = re.compile(rf"\b(?:since|after|starting)\s+{_QI_DATE}", re.I)
_QI_UNTIL = re.compile(rf"\b(?:until|before|by)\s+{_QI_DATE}", re.I)
_QI_POINT = re.compile(rf"\b(?:in|on|during|at)\s+{_QI_DATE}", re.I)

QUERY_TIME_PROMPT_TEMPLATE = (
    "Today is {time_now}. Extract the time interval the question refers to "
    'as JSON {{"starts_at": "YYYY-MM-DD HH:MM:SS" | null, '
    '"ends_at": "YYYY-MM-DD HH:MM:SS" | null}}.\nQuestion: `{question}`'
)


def _date_window(datestr: str) -> tuple[str, str]:
    """A date mention at year/month/day granularity → the [start, end)
    half-open window it denotes ("2020" covers all of 2020; "2020-03" the
    month; "2020-03-05" the day). Missing parts default per models.py:5-17."""
    parts = [int(p) for p in datestr.split("-")]
    y, m, d = parts[0], parts[1] if len(parts) > 1 else None, parts[2] if len(parts) > 2 else None
    start = _ts(y, m or 1, d or 1)
    if d is not None:
        import datetime

        nxt = datetime.date(y, m, d) + datetime.timedelta(days=1)
        end = _ts(nxt.year, nxt.month, nxt.day)
    elif m is not None:
        end = _ts(y + 1, 1) if m == 12 else _ts(y, m + 1)
    else:
        end = _ts(y + 1)
    return start, end


def extract_query_interval(
    question: str, llm=None, time_now: str = "01-01-2026"
) -> tuple[str | None, str | None]:
    """Question → (starts_at, ends_at) with open-ended bounds, either None.

    The reference extracts this with an LLM structured-output call
    (temporal_retriever.py:89-110 + QueryInterval); pass ``llm(prompt) ->
    json_str`` to use that seam — malformed/unparseable output falls back to
    the deterministic parser rather than failing retrieval. Parser grammar
    (reference test-fixture shapes): "from X to Y"/"between X and Y" → both
    bounds; "since/after X" → open end; "until/before/by X" → open start;
    "in/on/during X" → X's whole window at its granularity (year, month, or
    day); no date mention → (None, None), the triplet-search fallback."""
    if llm is not None:
        import json

        try:
            raw = llm(
                QUERY_TIME_PROMPT_TEMPLATE.format(time_now=time_now, question=question)
            )
            obj = json.loads(raw)
            s, e = obj.get("starts_at"), obj.get("ends_at")
            if (s is None or isinstance(s, str)) and (e is None or isinstance(e, str)):
                if s is not None or e is not None:
                    return s, e
        except Exception:
            pass  # fall through to the deterministic parser
    if m := _QI_RANGE.search(question):
        return _date_window(m.group(1))[0], _date_window(m.group(2))[1]
    if m := _QI_SINCE.search(question):
        return _date_window(m.group(1))[0], None
    if m := _QI_UNTIL.search(question):
        return None, _date_window(m.group(1))[0]
    if m := _QI_POINT.search(question):
        return _date_window(m.group(1))
    return None, None


def events_overlapping_window(
    events: DataFrame,
    starts_at: str | None,
    ends_at: str | None,
    from_col: str = "time_from",
    to_col: str | None = "time_to",
) -> DataFrame:
    """collect_time_ids semantics over at/during events: an 'at' event (no
    end) is in the window iff its instant is; a 'during' event iff its
    [from, to] span OVERLAPS the [starts_at, ends_at) window. Native range
    predicates — pushdown/partition-prune friendly, no shuffle."""
    span_end = (
        F.coalesce(F.col(to_col), F.col(from_col))
        if to_col is not None and to_col in events.columns
        else F.col(from_col)
    )
    out = events
    if starts_at is not None:
        out = out.where(span_end >= F.to_timestamp(F.lit(starts_at)))
    if ends_at is not None:
        out = out.where(F.col(from_col) < F.to_timestamp(F.lit(ends_at)))
    return out


def temporal_topk_events(
    events: DataFrame,
    scores: DataFrame,
    starts_at: str | None,
    ends_at: str | None,
    k: int = 5,
    id_col: str = "event_id",
    from_col: str = "time_from",
    to_col: str | None = "time_to",
) -> DataFrame:
    """Window-filter → score-join → ascending top-k with rank
    (temporal_retriever.filter_top_k_events: score lookup per event, missing
    score = +inf, sort ascending, keep top_k). ``scores``: (event_id, score)
    from embedding the question against the Event_name collection (R1) or
    any deterministic scoring twin, ranked by retrieval.ranked_topk."""
    from cognee_spark.operators.retrieval import ranked_topk

    windowed = events_overlapping_window(events, starts_at, ends_at, from_col, to_col)
    scored = windowed.join(
        scores.select(F.col(id_col), F.col("score")), id_col, "left"
    ).withColumn("score", F.coalesce("score", F.lit(float("inf"))))
    return ranked_topk(scored, [F.asc("score"), F.asc(id_col)], k)


TEMPORAL_CONTEXT_SEPARATOR = "\n#####################\n"


def temporal_completion(
    events: DataFrame,
    scores: DataFrame,
    question: str,
    k: int = 5,
    llm=None,
    triplet_fallback=None,
    id_col: str = "event_id",
    from_col: str = "time_from",
    to_col: str | None = "time_to",
) -> dict:
    """Full SearchType TEMPORAL flow (temporal_retriever.get_retrieved_objects
    + get_context_from_objects): extract the window, keep the top-k relevant
    events in it, render their descriptions as the completion context. When
    the question carries no time window, or the window matches no events, the
    reference falls back to plain triplet search — pass ``triplet_fallback()
    -> context_str`` (e.g. a closure over retrieval.graph_completion_context)
    to mirror that; without one the fallback yields an empty context.

    Returns {"starts_at", "ends_at", "events" (ranked DataFrame | None),
    "context", "used_fallback"}. The context collect is k rows — bounded by
    construction."""
    starts_at, ends_at = extract_query_interval(question, llm=llm)
    if starts_at is None and ends_at is None:
        context = triplet_fallback() if triplet_fallback is not None else ""
        return {
            "starts_at": None, "ends_at": None, "events": None,
            "context": context, "used_fallback": True,
        }
    top = temporal_topk_events(
        events, scores, starts_at, ends_at, k=k,
        id_col=id_col, from_col=from_col, to_col=to_col,
    )
    rows = top.select("rank", "description").orderBy("rank").collect()
    if not rows:
        context = triplet_fallback() if triplet_fallback is not None else ""
        return {
            "starts_at": starts_at, "ends_at": ends_at, "events": top,
            "context": context, "used_fallback": True,
        }
    context = TEMPORAL_CONTEXT_SEPARATOR.join(
        r.description.strip() for r in rows if r.description
    )
    return {
        "starts_at": starts_at, "ends_at": ends_at, "events": top,
        "context": context, "used_fallback": False,
    }
