"""Parameter system: Param, validators, WithParams, shared mixins.

PySpark-native re-expression of the reference's param layer
(flink-ml-servable-core/src/main/java/org/apache/flink/ml/param/Param.java:32-97,
ParamValidators.java, and the ~30 Has* mixins under
flink-ml-servable-lib/.../common/param/).  Pure Python, JSON-codable so
save/load matches the reference's metadata layout (ReadWriteUtils.java:80-100).
"""

from __future__ import annotations

import warnings
from typing import Any, Callable, Generic, TypeVar

T = TypeVar("T")


class ParamValidators:
    """Validator factories mirroring ParamValidators.java."""

    @staticmethod
    def always_true() -> Callable[[Any], bool]:
        return lambda v: True

    @staticmethod
    def gt(lower: float) -> Callable[[Any], bool]:
        return lambda v: v is not None and v > lower

    @staticmethod
    def gt_eq(lower: float) -> Callable[[Any], bool]:
        return lambda v: v is not None and v >= lower

    @staticmethod
    def lt(upper: float) -> Callable[[Any], bool]:
        return lambda v: v is not None and v < upper

    @staticmethod
    def lt_eq(upper: float) -> Callable[[Any], bool]:
        return lambda v: v is not None and v <= upper

    @staticmethod
    def in_range(lower: float, upper: float,
                 lower_inclusive: bool = True,
                 upper_inclusive: bool = True) -> Callable[[Any], bool]:
        def check(v: Any) -> bool:
            if v is None:
                return False
            lo_ok = v >= lower if lower_inclusive else v > lower
            hi_ok = v <= upper if upper_inclusive else v < upper
            return lo_ok and hi_ok
        return check

    @staticmethod
    def in_array(allowed) -> Callable[[Any], bool]:
        allowed = list(allowed)
        return lambda v: v in allowed

    @staticmethod
    def not_null() -> Callable[[Any], bool]:
        return lambda v: v is not None

    @staticmethod
    def non_empty_array() -> Callable[[Any], bool]:
        return lambda v: v is not None and len(v) > 0

    @staticmethod
    def is_sub_set(allowed) -> Callable[[Any], bool]:
        allowed = set(allowed)
        return lambda v: v is not None and set(v) <= allowed


class Param(Generic[T]):
    """A typed parameter: (name, description, default, validator).

    Mirrors Param.java:32-97; JSON encode/decode is trivial because we only
    carry JSON-native value types (bool/int/float/str/lists thereof).
    """

    def __init__(self, name: str, description: str, default: T | None,
                 validator: Callable[[Any], bool] | None = None):
        self.name = name
        self.description = description
        self.default = default
        self.validator = validator or ParamValidators.always_true()

    def validate(self, value: Any) -> None:
        if not self.validator(value):
            raise ValueError(
                f"Parameter {self.name} is given an invalid value {value!r}")

    def json_encode(self, value: Any) -> Any:
        return value

    def json_decode(self, value: Any) -> Any:
        return value

    def __repr__(self) -> str:
        return f"Param({self.name!r})"


# Typed aliases for parity with the 18 typed subclasses (IntParam, ...).
# They only differ by value type in Java; Python needs no subclassing.
IntParam = Param
FloatParam = Param
BoolParam = Param
StringParam = Param
IntArrayParam = Param
FloatArrayParam = Param
StringArrayParam = Param
FloatArrayArrayParam = Param
StringArrayArrayParam = Param


class WithParams:
    """get/set-by-Param mixin mirroring WithParams.java.

    Params are discovered reflectively from class attributes (any attribute
    that is a Param instance, walking the MRO), matching
    ParamUtils.initializeMapWithDefaultValues.

    ``retired_params`` names params a class no longer has: loading a
    save that still carries one skips it with a warning.
    """

    retired_params: frozenset[str] = frozenset()

    def __init__(self, **kwargs: Any):
        self._param_map: dict[Param, Any] = {}
        for p in self.params():
            self._param_map[p] = p.default
        for k, v in kwargs.items():
            self.set(self._param_by_name(k), v)

    @classmethod
    def params(cls) -> list[Param]:
        seen: dict[str, Param] = {}
        for klass in reversed(cls.__mro__):
            for v in vars(klass).values():
                if isinstance(v, Param):
                    seen[v.name] = v
        return list(seen.values())

    def _param_by_name(self, name: str) -> Param:
        for p in self.params():
            if p.name == name:
                return p
        raise KeyError(f"{type(self).__name__} has no param {name!r}")

    def get(self, param: Param) -> Any:
        return self._param_map[param]

    def set(self, param: Param, value: Any) -> "WithParams":
        param.validate(value)
        self._param_map[param] = value
        return self

    def get_param_map(self) -> dict[Param, Any]:
        return dict(self._param_map)

    # convenience: obj.get_("inputCol"), obj.set_(inputCol="x")
    def get_(self, name: str) -> Any:
        return self.get(self._param_by_name(name))

    def set_(self, **kwargs: Any) -> "WithParams":
        for k, v in kwargs.items():
            self.set(self._param_by_name(k), v)
        return self

    def params_json(self) -> dict[str, Any]:
        return {p.name: p.json_encode(v) for p, v in self._param_map.items()}

    def load_params_json(self, data: dict[str, Any]) -> None:
        for name, raw in data.items():
            if name in self.retired_params:
                warnings.warn(f"{type(self).__name__}: ignoring retired "
                              f"param {name!r} from a saved stage")
                continue
            p = self._param_by_name(name)
            self._param_map[p] = p.json_decode(raw)


def _mixin(name: str, param: Param) -> type:
    """Build a Has* mixin class exposing the param as a class attribute plus
    get/set helpers named after the (snake_cased) param."""
    snake = "".join("_" + c.lower() if c.isupper() else c for c in param.name)

    def getter(self):
        return self.get(param)

    def setter(self, value):
        return self.set(param, value)

    cls = type(name, (), {
        param.name: param,
        f"get{snake.title().replace('_', '')}": getter,
        f"set{snake.title().replace('_', '')}": setter,
    })
    return cls


# ---------------------------------------------------------------------------
# Shared Has* mixins (flink-ml-servable-lib/.../common/param/Has*.java, 30 files)
# ---------------------------------------------------------------------------

V = ParamValidators

HasInputCol = _mixin("HasInputCol", StringParam("inputCol", "Input column name.", "input"))
HasInputCols = _mixin("HasInputCols", StringArrayParam("inputCols", "Input column names.", None))
HasOutputCol = _mixin("HasOutputCol", StringParam("outputCol", "Output column name.", "output"))
HasOutputCols = _mixin("HasOutputCols", StringArrayParam("outputCols", "Output column names.", None))
HasFeaturesCol = _mixin("HasFeaturesCol", StringParam("featuresCol", "Features column name.", "features"))
HasLabelCol = _mixin("HasLabelCol", StringParam("labelCol", "Label column name.", "label"))
HasPredictionCol = _mixin("HasPredictionCol", StringParam("predictionCol", "Prediction column name.", "prediction"))
HasRawPredictionCol = _mixin("HasRawPredictionCol", StringParam("rawPredictionCol", "Raw prediction column name.", "rawPrediction"))
HasWeightCol = _mixin("HasWeightCol", StringParam("weightCol", "Weight column name.", None))
HasMaxIter = _mixin("HasMaxIter", IntParam("maxIter", "Maximum number of iterations.", 20, V.gt(0)))
HasTol = _mixin("HasTol", FloatParam("tol", "Convergence tolerance.", 1e-6, V.gt_eq(0)))
HasReg = _mixin("HasReg", FloatParam("reg", "Regularization parameter.", 0.0, V.gt_eq(0)))
HasElasticNet = _mixin("HasElasticNet", FloatParam("elasticNet", "ElasticNet mixing parameter, in [0,1].", 0.0, V.in_range(0, 1)))
HasLearningRate = _mixin("HasLearningRate", FloatParam("learningRate", "Learning rate.", 0.1, V.gt(0)))
HasGlobalBatchSize = _mixin("HasGlobalBatchSize", IntParam("globalBatchSize", "Global batch size of training algorithms.", 32, V.gt(0)))
HasSeed = _mixin("HasSeed", IntParam("seed", "The random seed.", None))
HasHandleInvalid = _mixin("HasHandleInvalid", StringParam("handleInvalid", "Strategy to handle invalid entries: error, skip or keep.", "error", V.in_array(["error", "skip", "keep"])))
HasRelativeError = _mixin("HasRelativeError", FloatParam("relativeError", "Relative target precision for approximate quantiles.", 0.001, V.in_range(0, 1)))
HasDistanceMeasure = _mixin("HasDistanceMeasure", StringParam("distanceMeasure", "Distance measure.", "euclidean", V.in_array(["euclidean", "manhattan", "cosine"])))
HasDecayFactor = _mixin("HasDecayFactor", FloatParam("decayFactor", "Decay factor of the previous model.", 0.0, V.in_range(0, 1)))
HasBatchStrategy = _mixin("HasBatchStrategy", StringParam("batchStrategy", "Strategy to create mini batches from the input stream.", "count", V.in_array(["count"])))
HasMaxAllowedModelDelayMs = _mixin("HasMaxAllowedModelDelayMs", IntParam("maxAllowedModelDelayMs", "Max difference between data and model timestamps (ms).", 0, V.gt_eq(0)))
HasModelVersionCol = _mixin("HasModelVersionCol", StringParam("modelVersionCol", "Output column holding the model version used.", "version"))
HasFlatten = _mixin("HasFlatten", BoolParam("flatten", "If true, output one row per (feature) instead of one row of arrays.", False))
HasMultiClass = _mixin("HasMultiClass", StringParam("multiClass", "Classification type.", "auto", V.in_array(["auto", "binomial", "multinomial"])))
HasNumFeatures = _mixin("HasNumFeatures", IntParam("numFeatures", "Number of features.", 1 << 18, V.gt(0)))
HasCategoricalCols = _mixin("HasCategoricalCols", StringArrayParam("categoricalCols", "Categorical column names.", []))
