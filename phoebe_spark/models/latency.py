"""M4-M5: latency model — two-cluster latency classifier + boosted-tree
latency regressor, evaluated on a scale-out candidate grid.

Reference (/root/reference/analytics/app/latency/models.py):
- clustering (``:39-45``): RobustScaler(quantile_range=(0,1)) on latencies ->
  log(max(1, x)) -> Birch(n_clusters=2); cluster ids relabeled so label 0 is
  the low-latency cluster (``:56-84`` orders clusters and checks max(c0) <
  min(c1)).
- regressor (``:47-54``): StandardScaler on (scale_outs, throughput_rates) ->
  GradientBoostingRegressor(max_depth=10, n_estimators=3*len(data)).
- fit (``:86-114``): optional append of previous training data.
- predict/evaluate (``:116-148``): one request row per candidate scale-out
  (deduplicated), regressor predicts latency, clusterer predicts class,
  ResponseFinalizer with restriction=1 (class must be 'low') marks
  validity/best.

MLlib mapping (no sklearn in container): Birch -> BisectingKMeans(k=2) —
same two-cluster low/high-latency intent; GradientBoostingRegressor ->
GBTRegressor (maxIter capped; 3*n trees on tiny profile tables is the
reference's intent of "enough capacity to memorize", not a tuned number).

Driver fit. Profile tables are O(scale-outs x profiling rounds) rows (the
reference fits ~60 in-process), so both the fit and the candidate-grid
scoring run on the driver in plain Python/numpy and start no Spark job.
The fit reproduces MLlib's algorithms in MLlib's floating-point operation
order, so every fitted value and every ``predict`` field is bit-identical
to the MLlib pipeline on one partition:

- percentiles: Spark SQL ``percentile`` — sorted distinct values with
  cumulative counts, position ``(n-1)*p``, linear interpolation
  ``(hi - pos) * lowKey + (pos - lo) * highKey``;
- clustering feature: ``log(max(1, (x - med) / scale))`` with
  ``java.lang.StrictMath.log`` (Spark's ``Log``), ported from fdlibm
  ``__ieee754_log`` (``math.log`` differs from it in the last bit);
- StandardScaler: Summarizer's incremental mean and M2n over the non-zero
  values, the weight correction, the unbiased variance, ``sqrt``; features
  are ``(x - mean) * (1 / std)``;
- BisectingKMeans (k=2, seed 42, 20 iterations, 1-D): children start at
  ``c -/+ 1e-4*|c|*noise`` with ``noise = java.util.Random(42).nextDouble()``;
  centres are ``sum * (1/n)``; a cluster is divisible when ``cost > eps*n``;
  a point goes to its nearest centre (norm lower bound, strict ``<``), a
  child that gets no points drops out, and ``predict`` returns the first
  nearest leaf;
- GBTRegressor (maxDepth 10, maxIter ``min(3n, 200)``, step 0.1, squared
  loss): ``min(32, n)`` bins with midpoint thresholds (or MLlib's stride
  walk when there are more distinct values than splits); per-bin weight,
  sum and sum of squares accumulated in row order and prefix-summed, right
  = total - left; the root takes its parent impurity from its first
  evaluated split; gain ``imp - wl*il - wr*ir``, first maximal split wins;
  a node is a leaf when ``gain <= 0``, a child when ``|impurity| < eps``;
  tree 0 fits the labels, later trees ``-(-2*(y - pred))`` with weight 0.1;
- ensemble sum: ``BLAS.ddot`` as netlib's ``VectorBLAS`` computes it —
  ``DoubleVector.SPECIES_MAX`` lanes of fused multiply-add accumulators
  added in lane order, then a plain multiply-add tail. The lane count is
  the host JVM's ``MaxVectorSize`` over 8, probed once with
  ``java -XX:+PrintFlagsFinal``; the fused multiply-add is emulated exactly
  with integers.

Scope: the fit is exact up to 5,000 rows, where MLlib trains on one
partition and does not sample split candidates. Above that the driver fit
still runs over all rows, deterministically, with no sampling.
``tests/test_latency_scoring.py`` keeps the MLlib fit and the DataFrame
scoring pipeline as its oracle and compares every value exactly.

A fit builds its models off to the side and publishes them with one
attribute store (``fitted``); ``predict`` reads that snapshot once, so a
read served during a refit never mixes old and new models, and a refit that
raises leaves the previous models serving.
"""

from __future__ import annotations

import functools
import math
import os
import re
import struct
import subprocess
from bisect import bisect_left
from collections import Counter
from itertools import accumulate
from typing import Iterable, NamedTuple

import numpy as np

ESTIMATOR_FACTOR = 3
MAX_DEPTH = 10
MAX_BINS = 32
STEP_SIZE = 0.1
KMEANS_ITERATIONS = 20
SEED = 42
EPS = float(np.finfo(float).eps)  # MLUtils.EPSILON
_INVALID_GAIN = -float(np.finfo(float).max)  # Double.MinValue

Row = tuple[int, float, float]  # (scale_out, throughput_rate, latency)


class Ensemble(NamedTuple):
    """The fitted boosted trees. A tree is a leaf prediction (float) or
    ``(feature, threshold, left, right)``, left taking ``x <= threshold``."""

    trees: tuple
    weights: tuple[float, ...]

    @property
    def getNumTrees(self) -> int:
        return len(self.trees)

    def predict(self, features) -> float:
        preds = []
        for node in self.trees:
            while not isinstance(node, float):
                f, threshold, left, right = node
                node = left if features[f] <= threshold else right
            preds.append(node)
        return _ddot(preds, self.weights)


class Fitted(NamedTuple):
    """One fit's models, published together."""

    data: tuple[Row, ...]  # training rows, the base of an append refit
    centers: tuple[float, ...]  # clustering leaves, in cluster-id order
    label_map: dict[int, int]  # cluster id -> class, 0 = low latency
    med: float  # clustering feature: log(max(1, (latency - med) / scale))
    scale: float
    mean: np.ndarray  # StandardScaler over (scale_out, throughput_rate)
    std: np.ndarray
    regressor_model: Ensemble


class LatencyModel:
    def __init__(self):
        self.fitted: Fitted | None = None

    @property
    def previous_data(self) -> tuple[Row, ...] | None:
        return self.fitted.data if self.fitted else None

    @property
    def regressor_model(self) -> Ensemble | None:
        return self.fitted.regressor_model if self.fitted else None

    # -- fit ---------------------------------------------------------------
    def fit(self, rows: Iterable[Row], append: bool = False) -> None:
        """``rows`` are ``(scale_out, throughput_rate, latency)``. With
        ``append=True`` previous training rows come first (latency/models.py
        :89-90, U1)."""
        data = tuple((int(so), float(thr), float(lat)) for so, thr, lat in rows)
        prev = self.fitted
        if append and prev is not None:
            data = prev.data + data
        lat = [r[2] for r in data]

        # clustering features: RobustScaler(quantile_range=(0.0, 1.0)) on
        # latencies then log-clamp (latency/models.py:39-45 + :56-58).
        # sklearn quantile_range is in PERCENTILE units: scale = spread
        # between the 0th and 1st percentile, center = median — so the
        # feature is distance-above-median in units of the bottom-1% spread.
        med = _percentile(lat, 0.5)
        scale = max(_percentile(lat, 0.01) - _percentile(lat, 0.0), 1e-9)
        feats = [_cluster_feature(x, med, scale) for x in lat]
        centers = _bisect(feats)

        # relabel so cluster 0 = low latency (latency/models.py:60-84)
        lowest: dict[int, float] = {}
        for x, feat in zip(lat, feats):
            c = _nearest(centers, feat)
            lowest[c] = min(lowest.get(c, x), x)
        label_map = {c: i for i, c in enumerate(sorted(lowest, key=lowest.get))}

        # regressor: standard-scale (scale_outs, throughput_rates) -> GBT
        raw = np.array([(float(r[0]), r[1]) for r in data])
        mean, std = _standard_scaler(raw)
        ensemble = _boost(_standardize(raw, mean, std), np.array(lat))
        self.fitted = Fitted(data, centers, label_map, med, scale, mean, std, ensemble)

    # -- predict -----------------------------------------------------------
    def predict(
        self,
        throughput_rate: float,
        scale_outs: Iterable[int],
        previously_valid: Iterable[int] | None = None,
    ) -> list[dict]:
        """Candidate evaluation (latency/models.py:116-148): one row per
        distinct scale-out, sorted, as dicts with ``scale_outs``,
        ``latency``, ``latency_class``, ``is_valid`` and ``is_best``.

        Validity = latency_class < 1, i.e. the candidate must fall in the
        low-latency cluster, AND membership in ``previously_valid`` when
        given (common/schemes.py:47-48); best = first valid by scale-out.
        Raises ``ValueError`` when ``scale_outs`` is empty."""
        f = self.fitted
        if f is None:
            raise RuntimeError("LatencyModel.predict called before fit")
        sos = sorted({int(s) for s in scale_outs})
        if not sos:
            raise ValueError("no scale-outs to evaluate: the candidate set is empty")
        prev = None if previously_valid is None else {int(s) for s in previously_valid}

        # _standardize in plain floats (the same IEEE products): numpy on a
        # read's few rows drops and retakes the GIL per ufunc, and a stream
        # of such reads starves a refit running on another thread.
        mean = f.mean.tolist()
        inv_std = [0.0 if s == 0 else 1.0 / s for s in f.std.tolist()]
        rows = []
        for so in sos:
            features = [
                (v - m) * k for v, m, k in zip((float(so), float(throughput_rate)), mean, inv_std)
            ]
            latency = f.regressor_model.predict(features)
            cluster = _nearest(f.centers, _cluster_feature(latency, f.med, f.scale))
            latency_class = f.label_map[cluster]
            rows.append({
                "scale_outs": so,
                "latency": latency,
                "latency_class": latency_class,
                "is_valid": latency_class < 1 and (prev is None or so in prev),
                "is_best": False,
            })
        for r in rows:
            if r["is_valid"]:
                r["is_best"] = True
                break
        return rows


# -- percentiles and features -------------------------------------------------


def _percentile(values: list[float], p: float) -> float:
    """Spark SQL ``percentile(col, p)``."""
    counts = Counter(values)
    keys = sorted(counts)
    cum = list(accumulate(counts[k] for k in keys))
    pos = (cum[-1] - 1) * p
    lo, hi = math.floor(pos), math.ceil(pos)
    lo_key = keys[bisect_left(cum, lo + 1)]
    if hi == lo:
        return lo_key
    hi_key = keys[bisect_left(cum, hi + 1)]
    if hi_key == lo_key:
        return lo_key
    return (hi - pos) * lo_key + (pos - lo) * hi_key


def _cluster_feature(latency: float, med: float, scale: float) -> float:
    x = max(1.0, (latency - med) / scale)
    return 0.0 if x == 1.0 else _strict_log(x)


_LN2_HI = 6.93147180369123816490e-01  # 3fe62e42 fee00000
_LN2_LO = 1.90821492927058770002e-10  # 3dea39ef 35793c76
_LG1 = 6.666666666666735130e-01  # 3fe55555 55555593
_LG2 = 3.999999999940941908e-01  # 3fd99999 9997fa04
_LG3 = 2.857142874366239149e-01  # 3fd24924 94229359
_LG4 = 2.222219843214978396e-01  # 3fcc71c5 1d8e78af
_LG5 = 1.818357216161805012e-01  # 3fc74664 96cb03de
_LG6 = 1.531383769920937332e-01  # 3fc39a09 d078c69f
_LG7 = 1.479819860511658591e-01  # 3fc2f112 df3e5244


def _strict_log(x: float) -> float:
    """``java.lang.StrictMath.log``: fdlibm ``__ieee754_log`` (e_log.c),
    every step an IEEE double ``+ - * /``. Only the path for positive normal
    doubles and ``+inf`` is ported: ``_cluster_feature`` passes ``x > 1``,
    so the zero, negative, NaN and subnormal branches are left out."""
    lx, hx = struct.unpack("<II", struct.pack("<d", x))  # low, high word
    if hx >= 0x7FF00000:
        return x + x
    k = (hx >> 20) - 1023
    hx &= 0x000FFFFF
    i = (hx + 0x95F64) & 0x100000  # normalize x or x/2
    (x,) = struct.unpack("<d", struct.pack("<II", lx, hx | (i ^ 0x3FF00000)))
    k += i >> 20
    f = x - 1.0
    dk = float(k)
    if (0x000FFFFF & (2 + hx)) < 3:  # |f| < 2**-20
        if f == 0.0:
            return 0.0 if k == 0 else dk * _LN2_HI + dk * _LN2_LO
        r = f * f * (0.5 - 0.33333333333333333 * f)
        return f - r if k == 0 else dk * _LN2_HI - ((r - dk * _LN2_LO) - f)
    s = f / (2.0 + f)
    z = s * s
    w = z * z
    t1 = w * (_LG2 + w * (_LG4 + w * _LG6))
    t2 = z * (_LG1 + w * (_LG3 + w * (_LG5 + w * _LG7)))
    r = t2 + t1
    if ((hx - 0x6147A) | (0x6B851 - hx)) > 0:
        hfsq = 0.5 * f * f
        if k == 0:
            return f - (hfsq - s * (hfsq + r))
        return dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO)) - f)
    if k == 0:
        return f - s * (f - r)
    return dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f)


def _standard_scaler(raw: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Summarizer's ``mean`` and ``std`` over rows of unit weight."""
    n = float(len(raw))
    mean, std = [], []
    for col in raw.T:
        cur, m2n, ws = 0.0, 0.0, 0.0
        for v in col.tolist():
            if v != 0.0:  # foreachNonZero
                diff = v - cur
                cur = cur + diff / (ws + 1.0)
                m2n += (v - cur) * diff
                ws += 1.0
        denominator = n - n / n
        var = 0.0
        if denominator > 0.0:
            var = max(0.0, (m2n + cur * cur * ws * (n - ws) / n) / denominator)
        mean.append(cur * (ws / n))
        std.append(math.sqrt(var))
    return np.array(mean), np.array(std)


def _standardize(raw: np.ndarray, mean: np.ndarray, std: np.ndarray) -> np.ndarray:
    """StandardScalerModel: (x - mean) * (1 / std), the factor 0 where std is 0."""
    inv_std = np.divide(1.0, std, out=np.zeros_like(std), where=std != 0)
    return (raw - mean) * inv_std


# -- BisectingKMeans (k=2, 1-D) -------------------------------------------------


def _java_random_double(seed: int) -> float:
    """``new java.util.Random(seed).nextDouble()``."""
    mask = (1 << 48) - 1
    s = (seed ^ 0x5DEECE66D) & mask

    def nxt(bits: int) -> int:
        nonlocal s
        s = (s * 0x5DEECE66D + 0xB) & mask
        return s >> (48 - bits)

    return ((nxt(26) << 27) + nxt(27)) * 2.0**-53


def _summary(points: list[float]) -> tuple[float, float]:
    """ClusterSummaryAggregator: (centre, cost)."""
    total, sumsq = 0.0, 0.0
    for x in points:
        norm = math.sqrt(x * x)
        sumsq += norm * norm * 1.0
        total += 1.0 * x
    n = float(len(points))
    center = total * (1.0 / n)
    norm = math.sqrt(center * center)
    return center, max(sumsq - n * norm * norm, 0.0)


def _closest(centers: list[float], x: float) -> int:
    """EuclideanDistanceMeasure.findClosest."""
    best, best_i = math.inf, 0
    x_norm = math.sqrt(x * x)
    for i, c in enumerate(centers):
        bound = math.sqrt(c * c) - x_norm
        if bound * bound < best:
            d = (c - x) * (c - x)
            if d < best:
                best, best_i = d, i
    return best_i


def _bisect(points: list[float]) -> tuple[float, ...]:
    """BisectingKMeans(k=2, seed=42, maxIter=20): the leaf centres."""
    root, cost = _summary(points)
    if not cost > EPS * len(points):
        return (root,)
    level = 1e-4 * math.sqrt(root * root)
    noise = _java_random_double(SEED)
    children = {2: root + -level * noise, 3: root + level * noise}
    for _ in range(KMEANS_ITERATIONS):
        ids = sorted(children)
        centers = [children[i] for i in ids]
        members: dict[int, list[float]] = {}
        for x in points:
            members.setdefault(ids[_closest(centers, x)], []).append(x)
        children = {i: _summary(m)[0] for i, m in members.items()}
    if 2 not in children:  # a root without its left child is a leaf
        return (root,)
    return tuple(children[i] for i in sorted(children))


def _nearest(centers: tuple[float, ...], x: float) -> int:
    """ClusteringTreeNode.predict: the first leaf at minimal distance."""
    dist = [(c - x) * (c - x) for c in centers]
    return dist.index(min(dist))


# -- GBTRegressor ------------------------------------------------------------


def _thresholds(values: np.ndarray, num_bins: int) -> list[float]:
    """RandomForest.findSplitsForContinuousFeature over all rows."""
    nonzero = [v for v in values.tolist() if v != 0.0]
    if not nonzero:
        return []
    counts = Counter({v: float(c) for v, c in Counter(nonzero).items()})
    weighted = float(len(values))
    if weighted - float(len(nonzero)) > EPS * len(nonzero) * 100:
        counts[0.0] = weighted - float(len(nonzero))
    keys = sorted(counts)
    num_splits = num_bins - 1
    if len(keys) - 1 <= num_splits:
        return [(keys[i - 1] + keys[i]) / 2.0 for i in range(1, len(keys))]
    stride = weighted / (num_splits + 1)
    out, current, target = [], counts[keys[0]], stride
    for i in range(1, len(keys)):
        previous = current
        current += counts[keys[i]]
        if abs(previous - target) < abs(current - target):
            out.append((keys[i - 1] + keys[i]) / 2.0)
            target += stride
    return out


def _variance(w, s, ss):
    """Variance.calculate (elementwise on arrays); 0 where the weight is 0."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(w == 0, 0.0, (ss - (s * s) / w) / w)


class _Grower:
    """One regression tree (RandomForest.runBagged, one tree, all features)."""

    def __init__(self, bins: list[np.ndarray], num_splits: list[int], thresholds, labels):
        self.bins, self.num_splits, self.thresholds = bins, num_splits, thresholds
        self.labels = labels
        self.sq = labels * labels
        self.fitted = np.empty_like(labels)  # each training row's leaf

    def leaf(self, idx: np.ndarray, calc) -> float:
        pred = float(calc[1] / calc[0])
        self.fitted[idx] = pred
        return pred

    def grow(self, idx: np.ndarray, calc, level: int):
        """``calc`` is the node's (weight, sum, sum of squares) from its
        parent's split; None at the root."""
        parent, imp = calc, None if calc is None else float(_variance(*calc))
        best = None  # (gain, feature, split, left calc, right calc)
        for f, ns in enumerate(self.num_splits):
            if ns == 0:
                continue
            b = self.bins[f][idx]
            nb = ns + 1
            w = np.cumsum(np.bincount(b, minlength=nb).astype(float))
            s = np.cumsum(np.bincount(b, weights=self.labels[idx], minlength=nb))
            ss = np.cumsum(np.bincount(b, weights=self.sq[idx], minlength=nb))
            left = (w[:-1], s[:-1], ss[:-1])
            right = (w[-1] - w[:-1], s[-1] - s[:-1], ss[-1] - ss[:-1])
            if parent is None:  # root: the first evaluated split's left + right
                parent = tuple(float(l[0] + r[0]) for l, r in zip(left, right))
                imp = float(_variance(*parent))
            gains = imp - left[0] / parent[0] * _variance(*left) - right[0] / parent[0] * _variance(*right)
            gains = np.where((left[0] < 1) | (right[0] < 1) | (gains < 0.0), _INVALID_GAIN, gains)
            i = int(np.argmax(gains))  # the first maximal split
            if best is None or gains[i] > best[0]:
                best = (float(gains[i]), f, i, tuple(float(a[i]) for a in left),
                        tuple(float(a[i]) for a in right))
        if best is None:  # no feature has a split: the rows' own row-order sum
            return self.leaf(idx, (len(idx), sum(self.labels[idx].tolist())))
        gain, f, i, lcalc, rcalc = best
        if gain <= 0 or level == MAX_DEPTH:
            return self.leaf(idx, parent)
        goes_left = self.bins[f][idx] <= i
        children = []
        for child_idx, child_calc in ((idx[goes_left], lcalc), (idx[~goes_left], rcalc)):
            if level + 1 == MAX_DEPTH or abs(float(_variance(*child_calc))) < EPS:
                children.append(self.leaf(child_idx, child_calc))
            else:
                children.append(self.grow(child_idx, child_calc, level + 1))
        return (f, self.thresholds[f][i], children[0], children[1])


def _boost(x: np.ndarray, y: np.ndarray) -> Ensemble:
    """GBTRegressor(maxDepth=10, maxIter=min(3n, 200), stepSize=0.1) on
    standardized features ``x`` and labels ``y``."""
    n = len(y)
    num_bins = min(MAX_BINS, n)
    thresholds = [_thresholds(col, num_bins) for col in x.T]
    bins = [np.searchsorted(np.array(t), col, side="left") for t, col in zip(thresholds, x.T)]
    num_splits = [len(t) for t in thresholds]
    all_rows = np.arange(n)
    trees, weights = [], []
    pred = None
    for m in range(min(ESTIMATOR_FACTOR * n, 200)):
        labels = y if m == 0 else -(-2.0 * (y - pred))
        grower = _Grower(bins, num_splits, thresholds, labels)
        trees.append(grower.grow(all_rows, None, 0))
        weight = 1.0 if m == 0 else STEP_SIZE
        weights.append(weight)
        pred = (0.0 if m == 0 else pred) + grower.fitted * weight
    return Ensemble(tuple(trees), tuple(weights))


# -- BLAS.ddot ---------------------------------------------------------------


@functools.cache
def _lanes() -> int:
    """``DoubleVector.SPECIES_MAX.length()``: the JVM's ``MaxVectorSize``
    (bytes) over 8, probed once from the ``java`` that pyspark launches
    (``$JAVA_HOME/bin/java``, else ``java`` on ``PATH``)."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else "java"
    flags = subprocess.run(
        [java, "-XX:+PrintFlagsFinal", "-version"], capture_output=True, text=True, check=True
    ).stdout
    m = re.search(r"\bMaxVectorSize\s*=\s*(\d+)", flags)
    if m is None:
        raise RuntimeError(f"{java} -XX:+PrintFlagsFinal prints no MaxVectorSize flag")
    return int(m.group(1)) // 8


def _fma(a: float, b: float, c: float) -> float:
    """``Math.fma(a, b, c)``: a*b + c rounded once (finite inputs; a zero
    comes back as +0.0, and ``_ddot`` adds every sum to +0.0 anyway)."""
    an, ad = a.as_integer_ratio()
    bn, bd = b.as_integer_ratio()
    cn, cd = c.as_integer_ratio()
    return (an * bn * cd + cn * ad * bd) / (ad * bd * cd)  # int / int rounds correctly


def _ddot(x: list[float], y: tuple[float, ...]) -> float:
    """netlib VectorBLAS ``ddot(n, x, 1, y, 1)``."""
    lanes = _lanes()
    bound = len(x) - len(x) % lanes
    acc = [0.0] * lanes
    for i in range(0, bound, lanes):
        for j in range(lanes):
            acc[j] = _fma(x[i + j], y[i + j], acc[j])
    reduced = 0.0
    for a in acc:
        reduced += a
    total = 0.0 + reduced
    for i in range(bound, len(x)):
        total += x[i] * y[i]
    return total
