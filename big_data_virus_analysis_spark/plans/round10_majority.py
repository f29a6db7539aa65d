"""Round-10 streaming-majority pack: the Boyer–Moore majority vote
replayed per user, with the algorithm's conditional guarantee turned
into an in-band certificate.

* ``boyer_moore_majority_events`` — Boyer–Moore 1981: one pass with a
  (candidate, counter) state finds THE majority element if one exists
  (> n/2 occurrences); when none exists the surviving candidate is
  order-dependent but deterministic on the (ts, event_id)-sorted
  stream.  The Spark side folds each user's type-code stream with a
  two-slot LIST(BIGINT) accumulator ([candidate, counter] — the
  single-list encoding keeps the DuckDB oracle on ``list_reduce``'s
  safe path, the round10_sched precedent), then runs the classical
  SECOND pass in-expression (``size(filter(evs, x = cand))``) to emit
  ``is_true_majority`` per user — the certificate that separates
  "found the majority" from "no majority existed".  Output: one row
  per event type with the number of users whose surviving candidate
  is that type, how many of those are TRUE majorities, and corpus
  totals; the theorem (every user with a true majority has it as the
  candidate) is what the identity tests pin and the per-type split
  makes auditable.

100-TB shape: ONE events scan → per-user hash-aggregate collect →
two O(L) array passes per key (alphabet-free state, two BIGINTs) →
tiny rollup.  Same cost family as the round10_replay folds.

Identity properties (tests/test_properties.py): the fold finds every
planted majority (the Boyer–Moore theorem on random streams with and
without majorities); the certificate is exact (is_true_majority ⟺
brute count > n/2); the two-slot list replay equals a pure-Python
reference.

No reference counterpart (streaming-algorithms extension alongside
plans/round10_replay.py); public algorithms only (Boyer–Moore 1981,
published 1991).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.caching import tracked_cache
from ..sources.tables import load_table
from .catalog import QuerySpec
from .fragments import event_type_codes, user_code_streams

#: the Boyer-Moore fold: acc = [candidate_code, counter]
_BM_FOLD = """aggregate(
  evs,
  array(CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
  (acc, t) -> CASE
    WHEN element_at(acc, 2) = 0 THEN array(t, CAST(1 AS BIGINT))
    WHEN element_at(acc, 1) = t
      THEN array(element_at(acc, 1), element_at(acc, 2) + 1)
    ELSE array(element_at(acc, 1), element_at(acc, 2) - 1)
  END)"""


def _q_boyer_moore_majority_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    types = tracked_cache(event_type_codes(ev))  # reused twice
    # one aggregate builds the stream; the fold AND the classical
    # second pass (candidate occurrence count) run in one projection
    per = (
        user_code_streams(ev, types)
        .select(
            "n_events",
            F.expr(f"element_at({_BM_FOLD}, 1)").alias("cand"),
            # r12 (guide §1.2 — fix the per-task work): the classical
            # second pass was spelled size(filter(evs, x ->
            # x = element_at(FOLD, 1))) — the O(L) fold sat INSIDE the
            # filter lambda, so interpreted higher-order evaluation
            # re-ran it per element: O(L²) per user, measured +1.3 s
            # of the query's 2.1 s at sf0.1.  array_remove takes the
            # candidate as a plain (non-lambda) argument, evaluated
            # once per row; occurrences(c) = size - size(remove(c))
            # exactly (no NULLs in evs, streams non-empty).
            F.expr(
                f"size(evs) - size(array_remove(evs, element_at({_BM_FOLD}, 1)))"
            ).cast("bigint").alias("cand_occ"),
        )
        .select(
            "cand",
            (F.col("cand_occ") * 2 > F.col("n_events")).alias(
                "is_true_majority"
            ),
        )
    )
    rolled = per.groupBy("cand").agg(
        F.count(F.lit(1)).alias("n_users_candidate"),
        F.sum(F.col("is_true_majority").cast("bigint")).alias(
            "n_true_majority"
        ),
    )
    return (
        rolled.join(
            F.broadcast(types), rolled.cand == types.tc
        )
        .select(
            "event_type",
            "n_users_candidate",
            "n_true_majority",
        )
        .orderBy("event_type")
    )


_SQL_BOYER_MOORE = """
WITH coded AS MATERIALIZED (
  SELECT user_id,
         row_number() OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS rn,
         CAST(dense_rank() OVER (ORDER BY event_type) AS BIGINT) AS tc,
         event_type
  FROM events
), types AS MATERIALIZED (
  SELECT DISTINCT tc, event_type FROM coded
), streams AS MATERIALIZED (
  SELECT user_id, list(tc ORDER BY rn) AS evs,
         CAST(count(*) AS BIGINT) AS n_events
  FROM coded GROUP BY user_id
), folded AS MATERIALIZED (
  SELECT user_id, n_events, evs,
         list_reduce(
           [[CAST(0 AS BIGINT), CAST(0 AS BIGINT)]]
             || list_transform(evs, t -> [t, t]),
           (acc, x) -> CASE
             WHEN acc[2] = 0 THEN [x[1], CAST(1 AS BIGINT)]
             WHEN acc[1] = x[1] THEN [acc[1], acc[2] + 1]
             ELSE [acc[1], acc[2] - 1]
           END)[1] AS cand
  FROM streams
), certified AS MATERIALIZED (
  SELECT cand,
         len(list_filter(evs, x -> x = cand)) * 2 > n_events
           AS is_true_majority
  FROM folded
)
SELECT t.event_type,
       CAST(count(*) AS BIGINT) AS n_users_candidate,
       CAST(sum(CASE WHEN is_true_majority THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true_majority
FROM certified c JOIN types t ON t.tc = c.cand
GROUP BY t.event_type
ORDER BY t.event_type
"""


SPECS: dict[str, QuerySpec] = {
    "boyer_moore_majority_events": QuerySpec(
        _q_boyer_moore_majority_events,
        _SQL_BOYER_MOORE,
        "Boyer-Moore majority vote per user event stream (two-slot "
        "list fold + in-expression second pass): per-type candidate "
        "counts with the true-majority certificate separating found-"
        "the-majority from none-existed",
    ),
}
