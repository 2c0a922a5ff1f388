"""Sampling-based cardinality estimation — the last §4.1 reference
rewrite: QueryGraph.cpp:264-294 (``estimateUsingSample``) evaluates a
node's pushed-down predicates against a per-table materialized sample
and refines the cardinality feeding DP join ordering as
``passing / sample_rows`` (zero clamped to one row).

Spark-first translation: Catalyst's CBO + AQE already re-plan joins from
RUNTIME statistics, so re-implementing DP join enumeration would fight
the optimizer.  What Spark lacks is the reference's *pre-execution*
knob: deciding to BROADCAST a filtered dimension whose static size is
over the auto-broadcast threshold but whose post-predicate cardinality
is tiny (AQE only discovers that after the first shuffle of the join is
already planned; a plain ``broadcast()`` hint without an estimate risks
OOM on a mis-judged side).  ``SampledTable`` holds a small seeded sample
(the analogue of the reference's table-metadata sample), answers
selectivity probes by evaluating the REAL Spark predicate on it — no
expression translation layer, the sample is just a tiny cached
DataFrame — and ``hint()`` returns the filtered table wrapped in
``broadcast()`` exactly when the estimate fits the byte budget.

Scale posture: the sample is O(sample_rows) regardless of table size
(one pass to draw, cached thereafter); every probe touches only the
cached sample; ``total_rows`` comes from parquet metadata counts
(count() over parquet is footer-driven) or is caller-supplied.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lingo_db_spark.session import local_frame

# Conservative per-value byte widths for broadcast sizing (Spark's own
# defaultSize values, with strings/binary taken at a pessimistic 24 B
# payload + overhead unless measured from the sample).
_TYPE_BYTES = {
    "boolean": 1, "tinyint": 1, "smallint": 2, "int": 4, "float": 4,
    "bigint": 8, "double": 8, "date": 4, "timestamp": 8,
    "timestamp_ntz": 8,
}


def _row_bytes(df: DataFrame, sample: list | None = None) -> int:
    """Estimated serialized bytes per row; string widths measured from
    the sample rows when available."""
    total = 0
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t in _TYPE_BYTES:
            total += _TYPE_BYTES[t]
        elif t.startswith("decimal"):
            total += 16
        elif sample:
            vals = [row[f.name] for row in sample if row[f.name] is not None]
            total += (max((len(str(v)) for v in vals), default=24) + 8)
        else:
            total += 32
    return max(total, 8)


class SampledTable:
    """A base relation plus its bounded estimation sample (reference:
    the ``sample`` entry of TableMetaData, QueryGraph.cpp:281-283)."""

    def __init__(self, df: DataFrame, sample_rows: int = 2048,
                 total_rows: int | None = None, seed: int = 42):
        self.df = df
        self.total_rows = int(df.count() if total_rows is None
                              else total_rows)
        if self.total_rows <= sample_rows:
            sdf = df
        else:
            frac = min(1.0, (sample_rows * 1.2) / self.total_rows)
            sdf = df.sample(withReplacement=False, fraction=frac,
                            seed=seed).limit(sample_rows)
        # Materialize ONCE driver-side: probes then evaluate predicates
        # on a broadcast-sized local relation, never rescanning the base.
        self._rows = sdf.collect()
        self.sample_n = max(len(self._rows), 1)
        self._sample = local_frame(df.sparkSession, self._rows, df.schema)

    def selectivity(self, predicate: Column | None) -> float:
        """Fraction of sample rows passing `predicate` — the reference's
        countResults(sample, pred) / sample_rows with the same
        zero-clamps-to-one-row floor (an estimate of 0 would make any
        join order look free)."""
        if predicate is None:
            return 1.0
        passing = self._sample.filter(predicate).count()
        return max(passing, 1) / self.sample_n

    def estimate_rows(self, predicate: Column | None = None) -> float:
        return self.total_rows * self.selectivity(predicate)

    def estimate_bytes(self, predicate: Column | None = None) -> float:
        return self.estimate_rows(predicate) * _row_bytes(self.df,
                                                          self._rows)

    def hint(self, predicate: Column | None = None,
             threshold_bytes: int | None = None) -> DataFrame:
        """The filtered relation, wrapped in ``broadcast()`` iff the
        sample-estimated post-filter size fits the budget (default: the
        session's spark.sql.autoBroadcastJoinThreshold).  The data path
        is identical either way — only the join strategy hint changes,
        so a mis-estimate degrades performance, never correctness."""
        out = self.df if predicate is None else self.df.filter(predicate)
        if threshold_bytes is None:
            conf = self.df.sparkSession.conf.get(
                "spark.sql.autoBroadcastJoinThreshold", "10485760")
            threshold_bytes = _parse_bytes(conf)
        if threshold_bytes > 0 and (
                self.estimate_bytes(predicate) <= threshold_bytes):
            return F.broadcast(out)
        return out


def _parse_bytes(v: str) -> int:
    v = str(v).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if v.endswith(suf):
            v, mult = v[: -len(suf)], m
            break
    try:
        return int(float(v) * mult)
    except ValueError:
        return 10 << 20
