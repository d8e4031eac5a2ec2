"""HMM VITERBI DECODING (Viterbi 1967; Rabiner 1989 tutorial, problem
2) over per-user event sequences — the latent-state leg of the Markov
family beside the observed-chain `markov_event_transitions` /
`order_priority_markov`.

Model: a fixed 2-state HMM ("engaged" = state 0, "casual" = state 1)
with integer-ratio parameters — π = (1/2, 1/2), transitions
A = ((4/5, 1/5), (2/5, 3/5)), binary observations o_t = [value_t >
corpus lower-median] with emissions P(high|0) = 7/10, P(high|1) =
2/10. All log-parameters derive at query time as
round(ln(CAST(p AS DOUBLE)/q), 9) on BOTH engines (the no-python-
float-literal rule). The median threshold is an EXACT rank selection
((n+1)//2-th smallest by (value, event_id)) — a data value, not an
interpolation, so the binarization cannot straddle engines.

Viterbi is the classic log-space DP: δ_t(j) = max_i(δ_{t-1}(i) +
ln A_ij) + ln B_j(o_t), one sequential fold per user (Spark
``F.aggregate`` vs DuckDB ``list_reduce``) whose DOUBLE-list
accumulator carries [δ0, δ1] at the head and the per-step
backpointers appended behind (the forecast_holt_linear snapshot-safe
list pattern); a second fold walks the backpointers from
argmax(δ_n) to reconstruct the MAP state path. Ties break to state 0
(>= comparisons on identical doubles — both engines see bit-equal
operands, since every term is a sum of the same round-9 constants).
The log-likelihood is emitted UNROUNDED: it is a sum of identical
doubles (IEEE-identical), and its value sits near a multiple of 1e-9
by construction — exactly where round-9's half-way divergence lives.

Scale: one shuffle to (user, ordered-obs list); the DP is per-row
map-side work linear in sequence length; backtrack likewise. The
accumulator column is materialize()d before its three consumers
(loglik, argmax, backtrack) so the interpreted HOF fold evaluates
once per row, not once per reference (the projection-collapse trap).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from arangodb_java_parquet_spark.queries.common import (
    materialize, query, t)

_MAXU = 200  # bound the output: users 0..199

# log-parameter SQL fragments (identical text on both engines)
_L = {
    "pi0": "round(ln(CAST(1 AS DOUBLE)/2), 9)",
    "pi1": "round(ln(CAST(1 AS DOUBLE)/2), 9)",
    "a00": "round(ln(CAST(4 AS DOUBLE)/5), 9)",
    "a01": "round(ln(CAST(1 AS DOUBLE)/5), 9)",
    "a10": "round(ln(CAST(2 AS DOUBLE)/5), 9)",
    "a11": "round(ln(CAST(3 AS DOUBLE)/5), 9)",
    "b0h": "round(ln(CAST(7 AS DOUBLE)/10), 9)",
    "b0l": "round(ln(CAST(3 AS DOUBLE)/10), 9)",
    "b1h": "round(ln(CAST(2 AS DOUBLE)/10), 9)",
    "b1l": "round(ln(CAST(8 AS DOUBLE)/10), 9)",
}

_VITERBI_SQL = f"""WITH ev AS (
  SELECT user_id, ts, event_id, value FROM events
  WHERE user_id < {_MAXU}
),
med AS (
  SELECT v AS med FROM (
    SELECT value AS v,
           ROW_NUMBER() OVER (ORDER BY value, event_id) AS rk,
           COUNT(*) OVER () AS n
    FROM ev) WHERE rk = (n + 1) // 2
),
obs AS (
  SELECT e.user_id,
         list(CASE WHEN e.value > m.med THEN CAST(1 AS DOUBLE)
                   ELSE CAST(0 AS DOUBLE) END
              ORDER BY e.ts, e.event_id) AS os
  FROM ev e CROSS JOIN med m
  GROUP BY e.user_id
),
dp AS (
  SELECT user_id, os, len(os) AS n,
         list_reduce(
           list_prepend([]::DOUBLE[],
                        list_transform(os, v -> [v])),
           (acc, x) -> CASE WHEN len(acc) = 0 THEN
             [{_L['pi0']} + (x[1] * {_L['b0h']}
                                      + (1 - x[1]) * {_L['b0l']}),
              {_L['pi1']} + (x[1] * {_L['b1h']}
                                      + (1 - x[1]) * {_L['b1l']})]
           ELSE
             [greatest(acc[1] + {_L['a00']}, acc[2] + {_L['a10']})
                + (x[1] * {_L['b0h']} + (1 - x[1]) * {_L['b0l']}),
              greatest(acc[1] + {_L['a01']}, acc[2] + {_L['a11']})
                + (x[1] * {_L['b1h']} + (1 - x[1]) * {_L['b1l']})]
             || acc[3:]
             || [CASE WHEN acc[1] + {_L['a00']}
                          >= acc[2] + {_L['a10']}
                      THEN CAST(0 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END,
                 CASE WHEN acc[1] + {_L['a01']}
                          >= acc[2] + {_L['a11']}
                      THEN CAST(0 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END]
           END) AS acc
  FROM obs
),
dec AS (
  SELECT user_id, n,
         greatest(acc[1], acc[2]) AS loglik,
         list_reduce(
           list_prepend(
             [CASE WHEN acc[1] >= acc[2] THEN CAST(0 AS DOUBLE)
                   ELSE CAST(1 AS DOUBLE) END],
             CASE WHEN n >= 2 THEN
               list_transform(list_reverse(range(2, n + 1)),
                              v -> [CAST(v AS DOUBLE)])
             ELSE []::DOUBLE[][] END),
           (acc2, x) -> list_prepend(
             acc[2 + CAST((x[1] - 2) * 2 + 1 + acc2[1] AS INTEGER)],
             acc2)) AS path
  FROM dp
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       array_to_string(list_transform(path,
                         v -> CAST(CAST(v AS INTEGER) AS VARCHAR)),
                       '') AS state_path,
       loglik
FROM dec
ORDER BY user_id
"""


@query("hmm_viterbi_decode", _VITERBI_SQL)
def hmm_viterbi_decode(spark, sf_dir):
    """Per-user MAP state path of the fixed 2-state HMM: one shuffle to
    ordered observation lists, then the Viterbi DP and backpointer walk
    as per-row folds. See module docstring for the parameter/
    determinism ledger."""
    e = (t(spark, sf_dir, "events")
         .filter(F.col("user_id") < _MAXU)
         .select("user_id", "ts", "event_id", "value"))
    wmed = W.orderBy("value", "event_id")
    med = (e.select(F.col("value").alias("v"),
                    F.row_number().over(wmed).alias("rk"),
                    F.count(F.lit(1)).over(
                        W.partitionBy(F.lit(1))).alias("n"))
           .filter(F.col("rk") == F.expr("(n + 1) div 2"))
           .select(F.col("v").alias("med")))
    obs = (e.crossJoin(F.broadcast(med))
           .select("user_id",
                   F.struct("ts", "event_id",
                            F.when(F.col("value") > F.col("med"),
                                   F.lit(1.0))
                            .otherwise(F.lit(0.0)).alias("o"))
                   .alias("rec"))
           .groupBy("user_id")
           .agg(F.transform(F.array_sort(F.collect_list("rec")),
                            lambda r: r.getField("o")).alias("os")))

    C = {k: F.expr(v) for k, v in _L.items()}

    def emit(j, o):
        if j == 0:
            return o * C["b0h"] + (F.lit(1) - o) * C["b0l"]
        return o * C["b1h"] + (F.lit(1) - o) * C["b1l"]

    def step(acc, x):
        init = F.array(C["pi0"] + emit(0, x), C["pi1"] + emit(1, x))
        c00 = F.element_at(acc, 1) + C["a00"]
        c10 = F.element_at(acc, 2) + C["a10"]
        c01 = F.element_at(acc, 1) + C["a01"]
        c11 = F.element_at(acc, 2) + C["a11"]
        nxt = F.concat(
            F.array(F.greatest(c00, c10) + emit(0, x),
                    F.greatest(c01, c11) + emit(1, x)),
            F.slice(acc, 3, F.size(acc)),
            F.array(F.when(c00 >= c10, F.lit(0.0)).otherwise(F.lit(1.0)),
                    F.when(c01 >= c11, F.lit(0.0)).otherwise(F.lit(1.0))))
        return F.when(F.size(acc) == 0, init).otherwise(nxt)

    dp = obs.select(
        "user_id", F.size("os").alias("n"),
        F.aggregate("os", F.array().cast("array<double>"), step)
        .alias("acc"))
    # acc feeds 3 consumers (loglik, argmax seed, backtrack indexing):
    # materialize so the interpreted DP fold runs once per row.
    dp = materialize(dp)

    s_fin = (F.when(F.element_at("acc", 1) >= F.element_at("acc", 2),
                    F.lit(0.0)).otherwise(F.lit(1.0)))
    walk = F.when(
        F.col("n") >= 2,
        F.reverse(F.sequence(F.lit(2), F.col("n")))).otherwise(
        F.array().cast("array<int>"))

    def back(acc2, x):
        idx = ((x.cast("int") - 2) * 2 + 1
               + F.element_at(acc2, 1).cast("int"))
        return F.concat(F.array(F.element_at("acc", idx + 2)), acc2)

    dec = dp.select(
        "user_id", F.col("n").cast("bigint").alias("n_events"),
        F.aggregate(walk, F.array(s_fin), back).alias("path"),
        F.greatest(F.element_at("acc", 1), F.element_at("acc", 2))
        .alias("loglik"))
    return (dec.select(
        "user_id", "n_events",
        F.array_join(F.transform(
            "path", lambda v: v.cast("int").cast("string")), "")
        .alias("state_path"),
        "loglik")
        .orderBy("user_id"))
