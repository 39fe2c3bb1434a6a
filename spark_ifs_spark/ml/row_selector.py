"""``RowSelector`` Estimator/Model — alternate (transposed) encoding.

API parity with ``/root/reference/src/main/scala/ifs/ml/feature/RowSelector.scala``:
params ``numTopRows`` (default 10, >0, ``RS:16-27``), ``idCol`` ("id"),
``featuresCol``, ``labelVector`` (required, non-empty — checked at
``RS:149``), ``outputCol``, ``filtered`` (default false, ``RS:33-38``).
``fit`` selects feature-rows by greedy mRMR; the model stores
``selectedRows`` as ints (ids truncated via ``.toInt``, ``RS:125``);
``transform`` adds a non-nullable boolean flag ``id ∈ selected``
(``RS:201``) and, when ``filtered``, keeps only flagged rows (``RS:203``).

The documented usage recipe (``RS:50-67``) — generate ids with
``monotonically_increasing_id``, fit, transform, then
``filter($"selected")`` — works verbatim here.
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import HasFeaturesCol, HasOutputCol
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ifs_spark.ml._schema import (
    features_as_array,
    features_as_sparse,
    is_vector_type,
    validate_schema,
)
from spark_ifs_spark.operators.select_rows import select_rows, select_rows_sparse


class _RowSelectorParams(HasFeaturesCol, HasOutputCol):
    numTopRows = Param(
        Params._dummy(),
        "numTopRows",
        "number of rows to select (> 0)",
        typeConverter=TypeConverters.toInt,
    )
    idCol = Param(
        Params._dummy(),
        "idCol",
        "unique integral row-id column",
        typeConverter=TypeConverters.toString,
    )
    labelVector = Param(
        Params._dummy(),
        "labelVector",
        "label of every instance-column, in column order",
        typeConverter=TypeConverters.toListFloat,
    )
    filtered = Param(
        Params._dummy(),
        "filtered",
        "when true, transform drops non-selected rows",
        typeConverter=TypeConverters.toBoolean,
    )

    def __init__(self):
        super().__init__()
        self._setDefault(numTopRows=10, idCol="id", featuresCol="features", filtered=False)

    def getNumTopRows(self) -> int:
        return self.getOrDefault(self.numTopRows)

    def getIdCol(self) -> str:
        return self.getOrDefault(self.idCol)

    def getLabelVector(self) -> list[float]:
        return self.getOrDefault(self.labelVector)

    def getFiltered(self) -> bool:
        return self.getOrDefault(self.filtered)


class RowSelector(Estimator, _RowSelectorParams, DefaultParamsReadable, DefaultParamsWritable):
    @keyword_only
    def __init__(self, *, numTopRows=10, idCol="id", featuresCol="features", labelVector=None, outputCol=None, filtered=False):
        super().__init__()
        kwargs = self._input_kwargs
        kwargs = {k: v for k, v in kwargs.items() if v is not None}
        self._set(**kwargs)

    def setNumTopRows(self, value: int) -> "RowSelector":
        if value <= 0:
            raise ValueError("numTopRows must be > 0")
        return self._set(numTopRows=value)

    def setIdCol(self, value: str) -> "RowSelector":
        return self._set(idCol=value)

    def setFeaturesCol(self, value: str) -> "RowSelector":
        return self._set(featuresCol=value)

    def setLabelVector(self, value) -> "RowSelector":
        return self._set(labelVector=list(value))

    def setOutputCol(self, value: str) -> "RowSelector":
        return self._set(outputCol=value)

    def setFiltered(self, value: bool) -> "RowSelector":
        return self._set(filtered=value)

    def _fit(self, dataset: DataFrame) -> "RowSelectorModel":
        id_col, feats, out = self.getIdCol(), self.getFeaturesCol(), self.getOutputCol()
        validate_schema(dataset.schema, id_col, feats, out)
        if not self.isDefined(self.labelVector) or len(self.getLabelVector()) == 0:
            raise ValueError("labelVector must be set and non-empty")  # RS:149
        result = None
        if is_vector_type(dataset.schema[feats].dataType):
            # Sparse routing: keep ML vectors in (indices, values) form and
            # run the O(nnz) kernel when the matrix is genuinely sparse —
            # identical selections (mi_vec_sparse ≡ mi_vec, same
            # tie-breaks), but redundancy rounds move O(nnz) not O(n).
            n_c, idx_c, val_c = features_as_sparse(dataset, feats)
            sparse_df = dataset.select(
                F.col(id_col).alias("id"),
                n_c.alias("n"),
                idx_c.alias("indices"),
                val_c.alias("values"),
            )
            density = sparse_df.agg(
                F.avg(F.size("indices") / F.col("n")).alias("d")
            ).first()["d"]
            if density is not None and density <= 0.5:
                result = select_rows_sparse(
                    sparse_df,
                    num=self.getNumTopRows(),
                    labels_row=self.getLabelVector(),
                )
        if result is None:
            prepared = dataset.select(
                F.col(id_col).alias(id_col), features_as_array(dataset, feats).alias(feats)
            )
            result = select_rows(
                prepared,
                num=self.getNumTopRows(),
                labels_row=self.getLabelVector(),
                id_col=id_col,
                features_col=feats,
            )
        model = RowSelectorModel()
        model._set(
            numTopRows=self.getNumTopRows(),
            idCol=id_col,
            featuresCol=feats,
            outputCol=out,
            labelVector=self.getLabelVector(),
            filtered=self.getFiltered(),
            selectedRows=[int(i) for i, _ in result],  # RS:125 .toInt
            selectionScores=[float(s) for _, s in result],
        )
        return model


class RowSelectorModel(Model, _RowSelectorParams, DefaultParamsReadable, DefaultParamsWritable):
    selectedRows = Param(
        Params._dummy(),
        "selectedRows",
        "selected row ids in selection order",
        typeConverter=TypeConverters.toListInt,
    )
    selectionScores = Param(
        Params._dummy(),
        "selectionScores",
        "greedy-round scores aligned with selectedRows (extension)",
        typeConverter=TypeConverters.toListFloat,
    )

    def getSelectedRows(self) -> list[int]:
        return self.getOrDefault(self.selectedRows)

    def getSelectionScores(self) -> list[float] | None:
        """Scores aligned with ``selectedRows``; persisted as a Param, so
        they survive a save/load round trip."""
        return (
            self.getOrDefault(self.selectionScores)
            if self.isDefined(self.selectionScores)
            else None
        )

    def _transform(self, dataset: DataFrame) -> DataFrame:
        id_col, out = self.getIdCol(), self.getOutputCol()
        if out in dataset.columns:
            raise ValueError(f"output column {out!r} already exists")
        flagged = dataset.withColumn(out, F.col(id_col).isin(self.getSelectedRows()))
        if self.getFiltered():
            flagged = flagged.filter(F.col(out))
        return flagged
