"""VectorAssembler — concatenate numeric/array columns into one vector.

Reference: feature/vectorassembler/VectorAssembler.java:67.  handleInvalid:
error | skip (drop rows with null/NaN/size-mismatch) | keep (null scalar →
NaN; null array → NaN-fill using the declared ``inputSizes``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType

from ..api import Transformer
from ..common import sqltext as S
from ..param import (HasHandleInvalid, HasInputCols, HasOutputCol,
                     IntArrayParam)


class VectorAssembler(Transformer, HasInputCols, HasOutputCol, HasHandleInvalid):
    inputSizes = IntArrayParam("inputSizes", "Declared size of each input column (needed for keep).", None)

    def _transform(self, df: DataFrame) -> DataFrame:
        in_cols = self.get_("inputCols")
        sizes = self.get_("inputSizes") or [None] * len(in_cols)
        mode = self.get_("handleInvalid")
        schema = {f.name: f.dataType for f in df.schema.fields}

        parts = []
        invalid = "false"
        for c, size in zip(in_cols, sizes):
            col = S.name(c)
            if isinstance(schema[c], ArrayType):
                arr = f"CAST({col} AS ARRAY<DOUBLE>)"
                bad = f"{col} IS NULL"
                if size:
                    bad = f"({bad} OR size({col}) != {int(size)})"
                if mode == "keep":
                    fill = f"array_repeat({S.double(float('nan'))}, {int(size or 1)})"
                    arr = f"CASE WHEN {bad} THEN {fill} ELSE {arr} END"
            else:
                x = f"CAST({col} AS DOUBLE)"
                bad = f"({col} IS NULL OR isnan({x}))"
                if mode == "keep":
                    arr = f"array(coalesce({x}, {S.double(float('nan'))}))"
                else:
                    arr = f"array({x})"
            parts.append(arr)
            invalid = f"{invalid} OR {bad}"

        out = f"concat({', '.join(parts)})" if len(parts) > 1 else parts[0]
        if mode == "skip":
            df = df.filter(f"NOT ({invalid})")
        elif mode == "error":
            msg = S.string("VectorAssembler: invalid (null/NaN/size-mismatch) input")
            out = (f"CASE WHEN {invalid} THEN CAST(raise_error({msg}) AS ARRAY<DOUBLE>) "
                   f"ELSE {out} END")
        return df.withColumns({self.get_("outputCol"): F.expr(out)})

    def transform_local(self, pdf):
        import math

        import numpy as np
        in_cols = self.get_("inputCols")
        sizes = self.get_("inputSizes") or [None] * len(in_cols)
        mode = self.get_("handleInvalid")
        rows, keep = [], []
        for _, r in pdf.iterrows():
            vec, bad = [], False
            for c, size in zip(in_cols, sizes):
                v = r[c]
                if v is None:
                    # a NULL array column must fill its declared width,
                    # not a single NaN (None has no __len__, so it would
                    # otherwise fall to the scalar branch)
                    bad = True
                    vec.extend([float("nan")] * int(size or 1))
                elif hasattr(v, "__len__"):
                    if size and len(v) != size:
                        bad = True
                        vec.extend([float("nan")] * int(size))
                    else:
                        vec.extend(float(x) for x in v)
                else:
                    fv = float(v)
                    if math.isnan(fv):
                        bad = True
                    vec.append(fv)
            if bad and mode == "error":
                raise ValueError("VectorAssembler: invalid input")
            rows.append(vec)
            keep.append(not bad)
        out = pdf.copy()
        out[self.get_("outputCol")] = rows
        if mode == "skip":
            out = out[np.array(keep, dtype=bool)].reset_index(drop=True)
        return out
