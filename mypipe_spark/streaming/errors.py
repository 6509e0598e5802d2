"""Error handling: dead-letter routing + quit-on-error policy
(SURVEY.md §2.9 T11-T12, §7 Stage 7).

The reference has a 3-layer error cascade (decode errors → event-type
errors → global handler) with per-class quit-on-* config flags
(ConfigBasedErrorHandler, binaryLogConsumerTraits.scala:89-137;
reference.conf:31-53): a handler returning false stops the consumer,
true skips the bad event and continues.

Spark mapping:
- **dead-letter routing**: a split stage (:func:`divert`) passes valid
  rows on and diverts the rest to a DLQ sink instead of poisoning the
  pipe — the "skip and continue" path, with the skipped events
  preserved (better than the reference, which only logs). One source,
  two filtered sinks (the survey's T12 one-query-per-sink
  disposition).
- **quit-on-error**: :class:`ErrorPolicy` decides per error class;
  :func:`run_with_error_handling` applies it around the microbatch
  loop — a raising batch either stops the pipe (quit=True, reference's
  `false` return) or the exception is captured and returned
  (quit=False); the unprocessed batch stays in the checkpoint backlog
  for a retry or a fixed redeploy — row-level preservation is the
  dead-letter SPLIT's job, the policy only decides stop-vs-continue.
"""

from __future__ import annotations

from dataclasses import dataclass, replace
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipe import Pipe


@dataclass(frozen=True)
class ErrorPolicy:
    """quit-on-* flags (reference.conf:31-53). True = stop the pipe on
    that error class; False = divert/skip and continue.

    Classification (:func:`_quit_for`): :class:`EmptyMutationError` →
    ``quit_on_empty_mutation``; Spark decode/parse failures (invalid
    UTF-8, malformed JSON/record, bad cast — the error classes the wire
    decode layer can raise) → ``quit_on_event_decode_failure``;
    everything else → ``quit_on_event_handle_failure``."""

    quit_on_event_decode_failure: bool = True
    quit_on_event_handle_failure: bool = True
    quit_on_empty_mutation: bool = False


class EmptyMutationError(RuntimeError):
    """Raised by a producer/transform when a mutation carries no rows
    (the reference's onMutation-with-empty-payload class,
    reference.conf quit-on-empty-mutation). Gives the policy's third
    flag a concrete signal to act on."""


# Spark error classes (SparkThrowable) raised by the decode layer —
# string-matched because streaming wraps the root cause inside
# StreamingQueryException's message.
_DECODE_ERROR_MARKERS = (
    "MALFORMED_CHARACTER_CODING",
    "INVALID_UTF8_STRING",
    "MALFORMED_RECORD_IN_PARSING",
    "CANNOT_PARSE_JSON",
    "MALFORMED_AVRO_MESSAGE",
    # CAST_INVALID_INPUT deliberately NOT here: it is a general
    # expression error a user transform can raise anywhere (the
    # reference distinguishes by STAGE, not error text), and the
    # engine's own decode layers never throw it — they are PERMISSIVE/
    # try_* by construction. Classifying it as decode-stage would let
    # a handle-stage cast failure slip past
    # quit_on_event_handle_failure=True under decode=skip.
)


def _quit_for(policy: ErrorPolicy, exc: Exception) -> bool:
    """Map an exception to the reference's per-class quit flag.

    The empty-mutation class is matched through the cause chain AND by
    name in the message: a streaming run wraps the producer's raise in
    StreamingQueryException, where a bare isinstance would miss it and
    the wrong (handle-failure) flag would decide."""
    cause: BaseException | None = exc
    seen = 0
    while cause is not None and seen < 10:
        if isinstance(cause, EmptyMutationError):
            return policy.quit_on_empty_mutation
        cause = cause.__cause__ or cause.__context__
        seen += 1
    text = str(exc)
    if "EmptyMutationError" in text:
        return policy.quit_on_empty_mutation
    condition = getattr(exc, "getCondition", None)
    if callable(condition):
        try:
            text += " " + (condition() or "")
        except Exception:  # noqa: BLE001 - classification is best-effort
            pass
    if any(marker in text for marker in _DECODE_ERROR_MARKERS):
        return policy.quit_on_event_decode_failure
    return policy.quit_on_event_handle_failure


def dead_letter_split(df: DataFrame, valid_condition: str) -> tuple[DataFrame, DataFrame]:
    """Split a (batch or streaming) change stream into (valid, dead)
    by a SQL predicate — the runtime-configured validity rule, Catalyst-
    compiled like the reference's Eval'd handlers. NULL predicate
    results count as dead (a row you can't judge is a row you divert)."""
    cond = F.expr(valid_condition)
    valid = df.filter(cond)
    dead = df.filter(~F.coalesce(cond, F.lit(False))).withColumn(
        "dlq_reason", F.lit(f"failed: {valid_condition}")
    )
    return valid, dead


Split = Callable[[DataFrame], tuple[DataFrame, DataFrame]]


def divert(pipe: Pipe, split: Split, dlq_path: str | None, suffix: str) -> list[Pipe]:
    """Append ``split``'s valid branch to ``pipe``'s transforms as its
    next stage. With a ``dlq_path``, return the dead-letter sibling: a
    parquet query at ``dlq_path``, checkpointed at ``checkpoint +
    suffix``, reading the pipe's source through the transforms before
    this stage and keeping the split's dead branch. The sibling re-runs
    that chain: two streaming queries cannot share one computation
    without a table-format sink.

    Refuses at build when there is no checkpoint, before any branch
    runs: the parquet sink needs one, and finding that out after the
    main branch committed would lose the run's dead rows."""
    before = tuple(pipe.transforms)
    pipe.transforms.append(lambda df: split(df)[0])
    if not dlq_path:
        return []
    if not pipe.checkpoint_dir:
        raise ValueError(
            f"pipe '{pipe.pipe_id}': dead-letter-path requires a "
            "checkpoint_dir (the DLQ parquet sink cannot run without one)"
        )

    def dead(spark: SparkSession) -> DataFrame:
        df = pipe.source(spark)
        for t in before:
            df = t(df)
        return split(df)[1]

    return [
        Pipe(
            pipe_id=pipe.pipe_id + suffix,
            source=dead,
            producer="parquet",
            producer_options={"path": dlq_path},
            checkpoint_dir=pipe.checkpoint_dir + suffix,
        )
    ]


def run_pipe_with_dead_letter(
    spark: SparkSession,
    pipe: Pipe,
    valid_condition: str,
    dead_letter_path: str,
) -> None:
    """Run ``pipe`` with DLQ routing: valid rows flow through the
    pipe's transforms/producer; invalid rows land in parquet at
    ``dead_letter_path`` with a reason column. Each sink is its own
    checkpointed query over the same source (T12), so a DLQ backlog
    can never stall the main pipe."""
    main = replace(pipe, transforms=[])
    dlq = divert(main, lambda df: dead_letter_split(df, valid_condition),
                 dead_letter_path, "_dlq")
    main.transforms += pipe.transforms
    for p in (main, *dlq):
        p.run_available(spark)


def run_with_error_handling(
    spark: SparkSession,
    pipe: Pipe,
    policy: ErrorPolicy = ErrorPolicy(),
) -> Exception | None:
    """Run a pipe under the quit-on-error policy: a failing run either
    propagates (quit=True — the reference stops its consumer) or is
    captured and returned for inspection (quit=False — skip semantics;
    the checkpoint ensures the poisoned batch is retried or skipped by
    a fixed deploy, never silently lost). Returns the captured
    exception, if any."""
    try:
        pipe.run_available(spark)
        return None
    except Exception as exc:  # noqa: BLE001 - policy decides
        if _quit_for(policy, exc):
            raise
        return exc
