"""StringToShortIndexer — frequency-ordered label indexing with
Short-typed output.

Rebuild of the reference's ``org.apache.spark.ml.feature.
StringToShortIndexer`` (/root/reference/sparkext-mllib/src/main/scala/
org/apache/spark/ml/feature/StringToShortIndexer.scala:21-106).
Contract:

- fit: labels ordered by frequency descending, most frequent → index 0
  (StringToShortIndexer.scala:30-34); ≤ 32767 labels enforced (:35-36).
  Tie order is unspecified in the reference (Scala map order); we pin
  count DESC, label ASC for determinism.
- transform: unseen label → error (:82-83, "Unseen label: ...");
  missing input column → pass-through no-op (:72-76); NominalAttribute
  metadata carrying the label values (:87-88); output ShortType.

Spark-first: the fit is ``groupBy(cast(string)).count()`` (distributed,
map-side combine); the transform is a BROADCAST JOIN against the label
table instead of a per-row Python UDF — stays inside whole-stage
codegen, and at 100 TB ships the ≤32767-row dictionary once per
executor rather than once per task (the reference closure-captures an
OpenHashMap, :56-65).
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ext_spark.sources.io import local_frame

SHORT_MAX = 32767
HANDLE_INVALID = ("error", "skip", "keep")


class _IndexerParams(Params):
    inputCol = Param(Params._dummy(), "inputCol", "input label column",
                     typeConverter=TypeConverters.toString)
    outputCol = Param(Params._dummy(), "outputCol", "output index column",
                      typeConverter=TypeConverters.toString)
    handleInvalid = Param(
        Params._dummy(), "handleInvalid",
        "unseen/null label handling: error (reference behavior) | skip "
        "(drop rows) | keep (null index)",
        typeConverter=TypeConverters.toString)


class StringToShortIndexer(Estimator, _IndexerParams,
                           DefaultParamsReadable, DefaultParamsWritable):
    @keyword_only
    def __init__(self, *, inputCol=None, outputCol=None,
                 handleInvalid="error"):
        super().__init__()
        self._setDefault(handleInvalid="error")
        kwargs = self._input_kwargs
        self._set(**{k: v for k, v in kwargs.items() if v is not None})

    def _fit(self, dataset: DataFrame) -> "StringToShortIndexerModel":
        in_col = self.getOrDefault(self.inputCol)
        counts = (dataset
                  .select(F.col(in_col).cast("string").alias("label"))
                  .filter(F.col("label").isNotNull())
                  .groupBy("label").count()
                  .orderBy(F.desc("count"), F.asc("label"))
                  .limit(SHORT_MAX + 1)
                  .collect())
        if len(counts) > SHORT_MAX:
            raise ValueError(
                f"Unique labels count (>{SHORT_MAX}) should be less than "
                f"Short.MaxValue ({SHORT_MAX})")
        labels = [r["label"] for r in counts]
        model = StringToShortIndexerModel(labels=labels)
        model._resetUid(self.uid)
        self._copyValues(model)
        return model


class StringToShortIndexerModel(Model, _IndexerParams,
                                DefaultParamsReadable, DefaultParamsWritable):
    modelLabels = Param(Params._dummy(), "modelLabels",
                        "fitted labels in index order (persisted state "
                        "for DefaultParamsWritable save/load)")

    def __init__(self, labels=None):
        super().__init__()
        self._setDefault(handleInvalid="error", modelLabels=[])
        vals = list(labels) if labels is not None else []
        if len(vals) > SHORT_MAX:
            raise ValueError(
                f"Unique labels count ({len(vals)}) should be less "
                f"than Short.MaxValue ({SHORT_MAX})")
        if vals:
            self._set(modelLabels=vals)

    @property
    def labels(self) -> list:
        return list(self.getOrDefault(self.modelLabels))

    def _output_metadata(self) -> dict:
        # NominalAttribute with label values (StringToShortIndexer.scala:87-88)
        out = self.getOrDefault(self.outputCol)
        return {"ml_attr": {"type": "nominal", "name": out,
                            "vals": self.labels}}

    def _transform(self, dataset: DataFrame) -> DataFrame:
        in_col = self.getOrDefault(self.inputCol)
        if in_col not in dataset.columns:
            # Missing input column → pass-through (reference :72-76).
            return dataset
        out = self.getOrDefault(self.outputCol)
        handle = self.getOrDefault(self.handleInvalid)
        if handle not in HANDLE_INVALID:
            raise ValueError(f"handleInvalid must be one of {HANDLE_INVALID}")

        spark = dataset.sparkSession
        uid = self.uid
        lbl_col, idx_col = f"{uid}_label", f"{uid}_idx"
        label_df = local_frame(
            spark, [(lbl, i) for i, lbl in enumerate(self.labels)],
            f"{lbl_col} string, {idx_col} short")

        joined = dataset.join(
            F.broadcast(label_df),
            F.col(in_col).cast("string").eqNullSafe(F.col(lbl_col)),
            "left")
        if handle == "error":
            idx = (F.when(F.col(idx_col).isNotNull(), F.col(idx_col))
                   .otherwise(F.expr(
                       f"raise_error(concat('Unseen label: ', "
                       f"coalesce(cast(`{in_col}` as string), 'null'), '.'))")
                       .cast("short")))
        elif handle == "skip":
            joined = joined.filter(F.col(idx_col).isNotNull())
            idx = F.col(idx_col)
        else:
            idx = F.col(idx_col)

        return (joined
                .select(*[F.col(c) for c in dataset.columns],
                        idx.alias(out, metadata=self._output_metadata())))
