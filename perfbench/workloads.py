"""The four workloads: seeded inputs, a closed loop with one client, and
output checks outside the timed region.

An operation is one public library call plus the Spark action that
materializes its result into a ``noop`` sink; the next operation starts
only after the previous one completed.
"""

from __future__ import annotations

import collections
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tracer import median, tail

# Twin-parity tolerances of tests/test_engine.py: metres rtol 1e-9 /
# atol 1e-6, degrees atol 1e-9.
M_RTOL, M_ATOL, DEG_ATOL = 1e-9, 1e-6, 1e-9

# One case per transform() route (see NOTES.md).
P7 = ("+proj=pipeline +ellps=WGS84 +step +proj=cart +ellps=bessel "
      "+step +proj=helmert +x=577.326 +y=90.129 +z=463.919 "
      "+rx=5.137 +ry=1.474 +rz=5.297 +s=2.4232 "
      "+convention=position_vector +step +inv +proj=cart +ellps=GRS80")
UTM = "+proj=utm +zone=32 +ellps=GRS80"
LCC = ("+proj=lcc +lat_0=52 +lon_0=10 +lat_1=35 +lat_2=65 "
       "+x_0=4000000 +y_0=2800000 +ellps=GRS80")
CASES = {
    # name: (projstring, direction, x column, y column)
    "webmerc_fwd": ("+proj=webmerc +ellps=WGS84", "fwd", "lon", "lat"),
    "utm_fwd": (UTM, "fwd", "lon", "lat"),
    "utm_inv": (UTM, "inv", "utm_x", "utm_y"),
    "lcc_inv": (LCC, "inv", "lcc_x", "lcc_y"),
    "datum_7p": (P7, "fwd", "lon", "lat"),
    "robin_fwd": ("+proj=robin +ellps=WGS84", "fwd", "lon", "lat"),
}
HELMERT_7P = ("+proj=helmert +x=577.326 +y=90.129 +z=463.919 "
              "+rx=5.137 +ry=1.474 +rz=5.297 +s=2.4232 "
              "+convention=position_vector")
FORMS = ("epsg", "projstring", "wkt2", "projjson")

KERNEL_PTS = 200_000
CRS_LEG_CODES = 24

# Generic metric names: every workload reports each of them (NOTES.md
# maps them to the named metrics of each workload).
E2E = ("setup_s", "op_p50_s", "work_per_s")
PER_LAYER = (
    "setup.session_s", "setup.inputs_s", "setup.warmup_s",
    "op.count", "op.tail_s", "op.call_p50_s", "op.action_p50_s",
    "op.call_share",
    *(f"kernels.{c}.pts_per_s" for c in (*CASES, "helmert_7p")),
    *(f"engine.plan.create_operation_s.{f}" for f in FORMS),
    "trace.overhead_share",
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    """Several files so every core gets scan tasks."""
    os.makedirs(path, exist_ok=True)
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


def concurrently(fns, workers: int) -> None:
    """Run zero-argument callables on a thread pool (Spark accepts jobs
    from several driver threads); re-raises the first failure."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=workers) as pool:
        for fut in [pool.submit(fn) for fn in fns]:
            fut.result()


def compare(got, want, rtol: float, atol: float) -> str | None:
    """None when NaN masks are equal and values agree, else a reason."""
    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    if not np.array_equal(np.isnan(got), np.isnan(want)):
        return (f"error-row masks differ ({int(np.isnan(got).sum())} vs "
                f"{int(np.isnan(want).sum())} NaN)")
    m = ~np.isnan(want)
    if not np.allclose(got[m], want[m], rtol=rtol, atol=atol):
        return f"max |diff| {np.abs(got[m] - want[m]).max():.3g}"
    return None


def expected_xy(op, direction: str, x, y):
    """Driver-side oracle: the Operation's NumPy kernels with the same
    degree handling transform(degrees=True) applies at the edges."""
    from proj_4_spark.kernels.common import DEG_TO_RAD, RAD_TO_DEG

    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    if op.angular_input(direction):
        x, y = x * DEG_TO_RAD, y * DEG_TO_RAD
    z = np.zeros_like(x)
    ox, oy, _, _ = op.apply(x, y, z, z.copy(), direction)
    if op.angular_output(direction):
        return ox * RAD_TO_DEG, oy * RAD_TO_DEG, True
    return ox, oy, False


def check_xy(name, op, direction, x_in, y_in, x_out, y_out) -> list[str]:
    wx, wy, deg = expected_xy(op, direction, x_in, y_in)
    rtol, atol = (0.0, DEG_ATOL) if deg else (M_RTOL, M_ATOL)
    out = []
    for c, got, want in (("x", x_out, wx), ("y", y_out, wy)):
        why = compare(got, want, rtol, atol)
        if why:
            out.append(f"{name}: {c} {why}")
    return out


def projected_box(rng, n: int):
    """Seeded lon/lat over Europe plus projected coordinates for the
    inverse cases (uniform over each projection's part of the box)."""
    lon = rng.uniform(-10.0, 30.0, n)
    lat = rng.uniform(35.0, 70.0, n)
    utm_x = rng.uniform(200_000.0, 800_000.0, n)
    utm_y = rng.uniform(3_900_000.0, 7_700_000.0, n)
    lcc_x = rng.uniform(2_500_000.0, 5_500_000.0, n)
    lcc_y = rng.uniform(1_000_000.0, 4_500_000.0, n)
    return {"lon": lon, "lat": lat, "utm_x": utm_x, "utm_y": utm_y,
            "lcc_x": lcc_x, "lcc_y": lcc_y}


# --------------------------------------------------------------- CRS pool

def _stratum(frag: str):
    """(projection, datum shift none/null/nonzero, axis swap, units): the
    proj-string traits that pick the transform() route and so most of a
    job's cost."""
    params = dict(t.split("=", 1) for t in frag.split() if "=" in t)
    shift = params.get("towgs84")
    if shift is not None:
        shift = "shift" if any(float(v) for v in shift.split(",")) \
            else "null"
    return (params["proj"], shift or "none", "axis" in params,
            params.get("units", "m"))


def crs_strata():
    """EPSG projected presets that need no grid, grouped by stratum."""
    from proj_4_spark.sources.epsg_generated import PRESETS
    from proj_4_spark.sources.initfiles import resolve_init

    out = collections.defaultdict(list)
    for code in sorted(PRESETS):
        try:
            frag = resolve_init(f"EPSG:{code}")
        except LookupError:
            continue
        if "grids" in frag or frag.startswith(("proj=longlat",
                                               "proj=geocent")):
            continue
        out[_stratum(frag)].append((code, frag))
    return out


def _usable(code: int, frag: str):
    """(code, proj-string, lon0, lat0) with the origin in degrees read
    from the Operation, or None when points around it do not project."""
    from proj_4_spark.engine.plan import create_operation

    ps = "+" + " +".join(frag.split())
    # a preset the library cannot build or project is skipped, whatever
    # the error: the pool only needs presets that run
    try:
        op = create_operation(ps)
        lon0, lat0 = np.degrees(op.P.lam0), np.degrees(op.P.phi0)
        lon, lat = origin_points(lon0, lat0, 64)
        x, _, _ = expected_xy(op, "fwd", lon, lat)
    except Exception:
        return None
    if np.isnan(x).all():
        return None
    return (code, ps, float(lon0), float(lat0))


def crs_pool(rng, n: int, exclude=()):
    """``n`` seeded presets, each stratum holding its share of the
    catalog (largest remainder), so every seed gets the same route mix.
    Returns (stratum -> members, job pattern): the pattern lists the
    strata of ``n`` consecutive jobs, interleaved evenly."""
    strata = crs_strata()
    total = sum(len(v) for v in strata.values())
    keys = sorted(strata)
    raw = {k: n * len(strata[k]) / total for k in keys}
    quota = {k: int(raw[k]) for k in keys}
    short = n - sum(quota.values())
    for k in sorted(keys, key=lambda k: quota[k] - raw[k])[:short]:
        quota[k] += 1
    pool = {}
    for k in keys:
        members = []
        for i in rng.permutation(len(strata[k])):
            if len(members) == quota[k]:
                break
            code, frag = strata[k][i]
            m = None if code in exclude else _usable(code, frag)
            if m:
                members.append(m)
        if members:
            pool[k] = members
    slots = sorted(((i + 0.5) / len(v), k) for k, v in pool.items()
                   for i in range(len(v)))
    return pool, [k for _, k in slots]


def origin_points(lon0: float, lat0: float, n: int):
    """Deterministic points within a degree of (lon0, lat0)."""
    i = np.arange(1, n + 1, dtype=np.float64)
    u = np.modf(i * 0.7548776662466927)[0]
    v = np.modf(i * 0.5698402909980532)[0]
    lon = lon0 + (2.0 * u - 1.0)
    lat = np.clip(lat0 + (2.0 * v - 1.0), -89.5, 89.5)
    return lon, lat


def crs_text(code: int, ps: str, form: str):
    """(text, fell_back): the CRS in the requested form, or its code when
    no writer handles it."""
    from proj_4_spark.engine.plan import create_operation
    from proj_4_spark.sources.projjson import projstring_to_projjson
    from proj_4_spark.sources.wkt2 import projstring_to_wkt2

    if form == "epsg":
        return f"EPSG:{code}", False
    if form == "projstring":
        return ps, False
    # any writer or parser error means no usable text in this form
    try:
        if form == "wkt2":
            text = projstring_to_wkt2(ps, name=f"EPSG {code}")
        else:
            text = json.dumps(projstring_to_projjson(ps, name=f"EPSG {code}"))
        create_operation(text)
    except Exception:
        return f"EPSG:{code}", True
    return text, False


# ------------------------------------------------------------- workloads

class Workload:
    """Shared plumbing: sizes echoed in the output, the closed loop, and
    the driver-side legs every traced run reports."""

    name = ""

    def __init__(self, spark, seed: int, wdir: str, nproc: int, tracer,
                 ops):
        self.spark = spark
        self.seed = seed
        self.wdir = wdir
        self.nproc = nproc
        self.tr = tracer
        self.ops = ops
        self.sizes: dict = {}
        self.layers: dict = {}

    def rng(self, stream: int):
        return np.random.Generator(np.random.PCG64([self.seed, stream]))

    def loop(self, seconds: float, steps) -> None:
        """Run ``steps`` (an endless iterator of zero-argument callables)
        until ``seconds`` have passed."""
        t0 = time.perf_counter()
        for step in steps:
            if time.perf_counter() - t0 >= seconds:
                break
            step()

    def latencies(self) -> list[float]:
        """Operation times behind ``op_p50_s``."""
        raise NotImplementedError

    def work(self) -> tuple[float, float]:
        """(items done, seconds spent) behind ``work_per_s``."""
        raise NotImplementedError

    def e2e_metrics(self) -> dict:
        lat, (items, secs) = self.latencies(), self.work()
        if not lat or not secs:
            return {}
        return {"op_p50_s": (median(lat), "s"),
                "work_per_s": (items / secs, "1/s")}

    def latency_named(self, prefix: str, lat: list[float]):
        t, pct = tail(lat)
        print(f"{prefix}: n={len(lat)} p50={median(lat):.6g} s "
              f"tail=p{pct:.0f} {t:.6g} s")
        return {f"{prefix}_p50_s": (median(lat), "s"),
                f"{prefix}_tail_s": (t, "s")}

    def layer_metrics(self) -> dict:
        calls, acts = self.ops.all_calls(), self.ops.all_actions()
        out = dict(self.layers)
        lat = self.latencies()
        if lat:
            out["op.count"] = (len(lat), "count")
            out["op.tail_s"] = (tail(lat)[0], "s")
        if calls:
            out["op.call_p50_s"] = (median(calls), "s")
            out["op.action_p50_s"] = (median(acts), "s")
            out["op.call_share"] = (sum(calls) / (sum(calls) + sum(acts)),
                                    "ratio")
        return out

    def driver_legs(self) -> None:
        """Traced runs only: the single-thread NumPy kernel leg and the
        CRS-text parsing leg, identical in every workload."""
        from proj_4_spark.engine.plan import create_operation

        rng = self.rng(99)
        pts = projected_box(rng, KERNEL_PTS)
        for case, (ps, direction, xc, yc) in CASES.items():
            op = create_operation(ps)
            rate = []
            for _ in range(3):
                t0 = time.perf_counter()
                with self.tr.span(f"kernels.{case}"):
                    expected_xy(op, direction, pts[xc], pts[yc])
                rate.append(KERNEL_PTS / (time.perf_counter() - t0))
            self.layers[f"kernels.{case}.pts_per_s"] = (median(rate),
                                                        "pts/s")
        cart = create_operation("+proj=cart +ellps=bessel")
        z = np.zeros(KERNEL_PTS)
        X, Y, Z, _ = cart.apply(np.radians(pts["lon"]),
                                np.radians(pts["lat"]), z, z.copy())
        helm = create_operation(HELMERT_7P)
        rate = []
        for _ in range(3):
            t0 = time.perf_counter()
            with self.tr.span("kernels.helmert_7p"):
                helm.apply(X, Y, Z, z.copy())
            rate.append(KERNEL_PTS / (time.perf_counter() - t0))
        self.layers["kernels.helmert_7p.pts_per_s"] = (median(rate), "pts/s")

        pool, _ = crs_pool(self.rng(98), CRS_LEG_CODES)
        for form in FORMS:
            times = []
            for code, ps, _, _ in (m for ms in pool.values() for m in ms):
                text, fell_back = crs_text(code, ps, form)
                if fell_back:
                    continue
                t0 = time.perf_counter()
                with self.tr.span(f"engine.plan.create_operation.{form}"):
                    create_operation(text)
                times.append(time.perf_counter() - t0)
            self.layers[f"engine.plan.create_operation_s.{form}"] = (
                median(times), "s")


class ReprojectBulk(Workload):
    """One million points through one case per transform() route."""

    name = "reproject_bulk"
    N = 1_000_000
    SAMPLE = 4096

    def make_inputs(self):
        cols = projected_box(self.rng(1), self.N)
        cols["id"] = np.arange(self.N, dtype=np.int64)
        table = pa.table(cols)
        self.path = os.path.join(self.wdir, "points")
        write_parquet(table, self.path, 2 * self.nproc)
        # a seeded row sample with the same schema and file count: the
        # checks rerun the timed plans, already compiled, on it
        pick = np.sort(self.rng(2).choice(self.N, self.SAMPLE,
                                          replace=False))
        self.sample_path = os.path.join(self.wdir, "sample")
        write_parquet(table.take(pick), self.sample_path, 2 * self.nproc)
        self.sample = {k: v[pick] for k, v in cols.items()}
        self.sizes = {"points": self.N, "files": 2 * self.nproc,
                      "cases": list(CASES), "checked_rows": self.SAMPLE}

    def _case(self, case: str, path: str | None = None):
        from pyspark.sql import functions as F

        from proj_4_spark.engine.spark import transform

        ps, direction, xc, yc = CASES[case]
        src = self.spark.read.parquet(path or self.path).select(
            "id", F.col(xc), F.col(yc))
        return transform(src, ps, x=xc, y=yc, direction=direction)

    def warmup(self):
        # the first full-size passes over each route cost up to twice the
        # steady state (codegen, JIT of the driver and of the hot loops,
        # Python workers): one concurrent pass, then one in loop order
        concurrently([lambda c=c: noop(self._case(c)) for c in CASES],
                     self.nproc)
        for case in CASES:
            noop(self._case(case))

    def measure(self, seconds):
        from proj_4_spark.engine.spark import _cached_operation

        before = _cached_operation.cache_info()

        def one_round():
            # whole rounds only, so every case weighs the same in the
            # figures of every run
            for case in CASES:
                self.ops.run(case, "engine.spark.transform",
                             lambda c=case: self._case(c), noop)

        self.loop(seconds, iter(lambda: one_round, None))
        after = _cached_operation.cache_info()
        self.cache = (after.hits - before.hits, after.misses - before.misses)

    def check(self):
        from proj_4_spark.engine.plan import create_operation

        problems = [f"{c}: no operation completed" for c in CASES
                    if not self.ops.call_s[c]]
        rows, self.routes = {}, {}

        def collect(case):
            df = self._case(case, self.sample_path)
            plan = df._jdf.queryExecution().executedPlan().toString()
            self.routes[case] = "python" if "EvalPython" in plan else "jvm"
            rows[case] = df.select("id", "x", "y").toPandas()

        concurrently([lambda c=c: collect(c) for c in CASES], self.nproc)
        for case, (ps, direction, xc, yc) in CASES.items():
            got = rows[case]
            pos = np.searchsorted(self.sample["id"], got["id"].to_numpy())
            problems += check_xy(
                case, create_operation(ps), direction,
                self.sample[xc][pos], self.sample[yc][pos],
                got["x"].to_numpy(dtype=np.float64, na_value=np.nan),
                got["y"].to_numpy(dtype=np.float64, na_value=np.nan))
        print("routes: " + json.dumps(self.routes, sort_keys=True))
        return problems

    def latencies(self):
        return [t for c in CASES for t in self.ops.op_s(c)]

    def work(self):
        lat = self.latencies()
        return self.N * len(lat), sum(lat)

    def named_metrics(self):
        pts, secs = self.work()
        return {"reproject_pts_per_s": (pts / secs, "pts/s")}

    def layer_metrics(self):
        out = super().layer_metrics()
        for case in CASES:
            act = self.ops.action_s[case]
            if act:
                out[f"reproject.{case}.action_s"] = (median(act), "s")
                out[f"reproject.{case}.pts_per_s"] = (
                    self.N / median(self.ops.op_s(case)), "pts/s")
        out["engine.spark.transform_build_s.reproject_bulk"] = (
            median(self.ops.all_calls()), "s")
        hits, misses = self.cache
        out["engine.spark.op_cache_hit_ratio"] = (
            hits / max(hits + misses, 1), "ratio")
        return out


class CrsManySmall(Workload):
    """Many ~2k-point jobs, each in a seeded CRS drawn from a pool larger
    than the operation cache and Spark's generated-code cache."""

    name = "crs_many_small"
    JOB_PTS = 2000
    POOL = 320
    WARM = 48
    MAX_JOBS = 2000
    CHECK_JOBS = 6
    CHECK_ROWS = 32

    def make_inputs(self):
        rng = self.rng(1)
        pool, pattern = crs_pool(rng, self.POOL)
        codes = {m[0] for ms in pool.values() for m in ms}
        # warm-up CRSs: outside the timed pool, same route mix
        warm, warm_pattern = crs_pool(self.rng(3), 4 * self.WARM,
                                      exclude=codes)
        used = collections.Counter()
        self.warm_pool = []
        for k in warm_pattern[:self.WARM]:
            self.warm_pool.append(warm[k][used[k]])
            used[k] += 1
        forms = rng.choice(len(FORMS), self.MAX_JOBS)
        texts: dict = {}
        self.jobs = []
        for j in range(self.MAX_JOBS):
            members = pool[pattern[j % len(pattern)]]
            # skewed within the stratum: a few CRSs repeat
            w = 1.0 / np.arange(1, len(members) + 1) ** 0.6
            code, ps, lon0, lat0 = members[rng.choice(len(members),
                                                      p=w / w.sum())]
            key = (code, FORMS[forms[j]])
            if key not in texts:
                texts[key] = crs_text(code, ps, FORMS[forms[j]])
            self.jobs.append((code, key[1], texts[key][0], lon0, lat0, j))
        self.fallbacks = sum(fb for _, fb in texts.values())
        self.sizes = {"job_points": self.JOB_PTS, "pool": len(codes),
                      "strata": len(pool), "warmup_crs": self.WARM,
                      "forms": list(FORMS)}

    def _job_df(self, lon0, lat0, salt):
        """2k points within a degree of the CRS origin, generated in the
        JVM from the row id (no driver-side data), in one partition: a
        small job is one task, not nproc tasks of 500 rows that each wait
        on the scheduler."""
        from pyspark.sql import functions as F

        def unit(mult, s):
            return F.pmod(F.col("id") * mult + s, F.lit(1_000_003)) \
                / 1_000_003.0

        return self.spark.range(0, self.JOB_PTS, 1, 1).select(
            "id",
            (F.lit(lon0) + 2.0 * unit(7919, salt) - 1.0).alias("lon"),
            F.least(F.lit(89.5), F.greatest(
                F.lit(-89.5),
                F.lit(lat0) + 2.0 * unit(104_729, salt * 31 + 7) - 1.0))
            .alias("lat"))

    def _transform(self, text, lon0, lat0, salt):
        from proj_4_spark.engine.spark import transform

        return transform(self._job_df(lon0, lat0, salt), text,
                         x="lon", y="lat")

    def warmup(self):
        # CRSs outside the timed pool, in every form, plus one job on the
        # Python-UDF route so the workers are up.  Plan build and per-plan
        # codegen keep getting faster for the first few dozen jobs as the
        # driver JIT warms; one-task jobs on nproc threads warm it fastest
        jobs = [(crs_text(code, ps, FORMS[i % len(FORMS)])[0], lon0, lat0,
                 code)
                for i, (code, ps, lon0, lat0) in enumerate(self.warm_pool)]
        jobs.append(("+proj=robin +ellps=WGS84", 10.0, 50.0, 1))
        concurrently([lambda j=j: noop(self._transform(*j)) for j in jobs],
                     self.nproc)

    def measure(self, seconds):
        from proj_4_spark.engine.spark import _cached_operation

        before = _cached_operation.cache_info()
        self.done = []

        def job(spec):
            code, form, text, lon0, lat0, j = spec
            df = self.ops.run("job", "engine.spark.transform",
                              lambda: self._transform(text, lon0, lat0, j),
                              noop)
            if df is not None:
                self.done.append((spec, df))

        self.loop(seconds, (lambda s=s: job(s)
                                        for s in self.jobs))
        after = _cached_operation.cache_info()
        self.cache = (after.hits - before.hits, after.misses - before.misses)

    def check(self):
        from pyspark.sql import functions as F

        from proj_4_spark.engine.plan import create_operation

        if not self.done:
            return ["no job completed"]
        problems = []
        rng = self.rng(2)
        pick = rng.choice(len(self.done), min(self.CHECK_JOBS,
                                              len(self.done)), replace=False)
        for i in sorted(pick):
            (code, form, text, lon0, lat0, j), df = self.done[i]
            r = int(rng.integers(self.CHECK_ROWS))
            rows = df.where(F.col("id") % self.CHECK_ROWS == r).select(
                "lon", "lat", "x", "y").toPandas()
            problems += check_xy(
                f"job {j} EPSG:{code} as {form}", create_operation(text),
                "fwd", rows["lon"], rows["lat"],
                rows["x"].to_numpy(dtype=np.float64, na_value=np.nan),
                rows["y"].to_numpy(dtype=np.float64, na_value=np.nan))
        return problems

    def latencies(self):
        return self.ops.op_s("job")

    def work(self):
        # the median job: a mean over ~30 jobs follows their outliers
        return self.JOB_PTS, median(self.latencies())

    def named_metrics(self):
        lat = self.latencies()
        distinct = len({(s[0], s[1]) for s, _ in self.done})
        print(f"jobs={len(lat)} distinct_crs_texts={distinct} "
              f"form_fallbacks={self.fallbacks}")
        return self.latency_named("crs_job", lat)

    def layer_metrics(self):
        out = super().layer_metrics()
        out["engine.spark.transform_build_s.crs_many_small"] = (
            median(self.ops.all_calls()), "s")
        hits, misses = self.cache
        out["engine.spark.op_cache_hit_ratio"] = (
            hits / max(hits + misses, 1), "ratio")
        return out


class SpatialEnrich(Workload):
    """Skewed points through pip_join, cell and tile aggregates and small
    kNN query batches."""

    name = "spatial_enrich"
    N = 100_000
    HOT_SHARE = 0.3
    KNN_BATCH = 6
    KNN_HOT = 2
    KNN_K = 10
    KNN_PER_ROUND = 2
    KNN_CHECKED = 3
    CELL_RES = 7
    ZOOM = 8
    WEBMERC = "+proj=webmerc +ellps=WGS84"

    def make_inputs(self):
        from proj_4_spark.docs.synth import HOT_CENTERS
        from proj_4_spark.sources.fixtures import zones_table

        rng = self.rng(1)
        n_hot = int(self.N * self.HOT_SHARE)
        centers = np.asarray(HOT_CENTERS)[rng.integers(len(HOT_CENTERS),
                                                       size=n_hot)]
        lon = np.concatenate([rng.uniform(-180, 180, self.N - n_hot),
                              centers[:, 0] + rng.normal(0, 0.5, n_hot)])
        lat = np.concatenate([rng.uniform(-80, 80, self.N - n_hot),
                              centers[:, 1] + rng.normal(0, 0.5, n_hot)])
        perm = rng.permutation(self.N)
        self.lon, self.lat = lon[perm], lat[perm]
        self.doc_id = np.array([f"d-{i:07d}" for i in range(self.N)])
        self.span_offset = (np.arange(self.N) % 7).astype(np.int32)
        self.pts_path = os.path.join(self.wdir, "points")
        write_parquet(pa.table({"doc_id": self.doc_id,
                                "span_offset": self.span_offset,
                                "lon": self.lon, "lat": self.lat}),
                      self.pts_path, 2 * self.nproc)
        self.zones = zones_table(seed=self.seed)
        self.zones_path = os.path.join(self.wdir, "zones")
        write_parquet(self.zones, self.zones_path, 1)
        self.sizes = {"points": self.N, "hot_share": self.HOT_SHARE,
                      "zones": self.zones.num_rows,
                      "knn_batch": self.KNN_BATCH, "knn_hot": self.KNN_HOT,
                      "k": self.KNN_K, "cell_res": self.CELL_RES,
                      "zoom": self.ZOOM}

    def _queries(self, b: int):
        from proj_4_spark.docs.synth import HOT_CENTERS

        rng = self.rng(1000 + b)
        n_uni = self.KNN_BATCH - self.KNN_HOT
        hot = np.asarray(HOT_CENTERS)[rng.integers(len(HOT_CENTERS),
                                                   size=self.KNN_HOT)]
        lon = np.concatenate([rng.uniform(-180, 180, n_uni),
                              hot[:, 0] + rng.normal(0, 0.1, self.KNN_HOT)])
        lat = np.concatenate([rng.uniform(-80, 80, n_uni),
                              hot[:, 1] + rng.normal(0, 0.1, self.KNN_HOT)])
        ids = [f"q-{b:04d}-{i:02d}" for i in range(self.KNN_BATCH)]
        return ids, lon, lat

    def _points(self):
        return self.spark.read.parquet(self.pts_path)

    def _pip(self):
        from proj_4_spark.spatial.pip import pip_join

        return pip_join(self._points(),
                        self.spark.read.parquet(self.zones_path))

    def _cells(self):
        from pyspark.sql import functions as F

        from proj_4_spark.spatial.cells import cell_col

        return self._points().select(
            cell_col(F.col("lon"), F.col("lat"), self.CELL_RES)
            .alias("cell")).groupBy("cell").count()

    def _tiles(self):
        from proj_4_spark.engine.spark import transform
        from proj_4_spark.spatial.tiles import assign_tiles

        merc = transform(self._points().select("lon", "lat"), self.WEBMERC,
                         x="lon", y="lat")
        return assign_tiles(merc, zoom=self.ZOOM).groupBy(
            "tile_x", "tile_y").count()

    def _knn(self, b: int):
        import pandas as pd

        from proj_4_spark.spatial.knn import knn_join

        ids, lon, lat = self._queries(b)
        q = self.spark.createDataFrame(pd.DataFrame(
            {"q_id": ids, "lon": lon, "lat": lat}))
        # the library's default resolution, so a sizing policy moved
        # into knn_join shows up here
        return knn_join(self._points(), q, k=self.KNN_K)

    def warmup(self):
        concurrently([lambda: noop(self._pip()),
                      lambda: noop(self._cells()),
                      lambda: noop(self._tiles()),
                      lambda: noop(self._knn(-1))], self.nproc)
        self.spark.catalog.clearCache()

    def measure(self, seconds):
        self.knn_first = None
        ops = self.ops

        def knn(b):
            df = ops.run("knn", "spatial.knn.knn_join",
                         lambda: self._knn(b), noop)
            if df is not None and b == 0:
                # the result is checkpointed: collecting it re-runs no join
                self.knn_first = df.toPandas()
            # knn_join caches its repartitioned points and never releases
            # them; drop them so batches do not pile up cached copies
            self.spark.catalog.clearCache()

        def steps():
            b = 0
            while True:
                yield lambda: ops.run("pip", "spatial.pip.pip_join",
                                      self._pip, noop)
                yield lambda: ops.run("cells", "spatial.cells.cell_col",
                                      self._cells, noop)
                yield lambda: ops.run("tiles", "spatial.tiles.assign_tiles",
                                      self._tiles, noop)
                for _ in range(self.KNN_PER_ROUND):
                    yield lambda b=b: knn(b)
                    b += 1

        self.loop(seconds, steps())

    def check(self):
        from proj_4_spark.engine.plan import create_operation
        from proj_4_spark.kernels.common import (DEG_TO_RAD,
                                                 geodesic_inverse_karney)
        from proj_4_spark.sources.fixtures import expected_pip
        from proj_4_spark.spatial.cells import cell_np
        from proj_4_spark.spatial.tiles import tile_np

        problems = [f"{kind}: no operation completed"
                    for kind in ("pip", "cells", "tiles", "knn")
                    if not self.ops.call_s[kind]]
        if problems:
            return problems

        got = sorted((r[0], int(r[1]), r[2]) for r in self._pip().select(
            "doc_id", "span_offset", "zone_id").collect())
        want = expected_pip(list(zip(self.doc_id, self.span_offset,
                                     self.lon, self.lat)), self.zones)
        self.pip_hits = len(got)
        if got != want:
            problems.append(f"pip_join: {len(got)} hits vs {len(want)} "
                            "expected, or different pairs")

        u, c = np.unique(cell_np(self.lon, self.lat, self.CELL_RES),
                         return_counts=True)
        got = {int(r[0]): int(r[1]) for r in self._cells().collect()}
        if got != dict(zip(u.tolist(), c.tolist())):
            problems.append("cell counts differ from cell_np bincount")

        x, y, _ = expected_xy(create_operation(self.WEBMERC), "fwd",
                              self.lon, self.lat)
        tx, ty = tile_np(x, y, self.ZOOM)
        u, c = np.unique(tx * (1 << self.ZOOM) + ty, return_counts=True)
        got = {int(r[0]) * (1 << self.ZOOM) + int(r[1]): int(r[2])
               for r in self._tiles().collect()}
        if got != dict(zip(u.tolist(), c.tolist())):
            problems.append("tile counts differ from tile_np bincount")

        res = self.knn_first
        if res is None:
            return problems + ["knn: the first batch did not complete"]
        self.knn_rows = len(res)
        ids, qlon, qlat = self._queries(0)
        pick = self.rng(2).choice(len(ids), self.KNN_CHECKED, replace=False)
        # the hot-area queries close a batch: always check one of them
        pick[0] = len(ids) - 1
        for i in pick:
            d = geodesic_inverse_karney(
                np.full(self.N, qlon[i] * DEG_TO_RAD),
                np.full(self.N, qlat[i] * DEG_TO_RAD),
                self.lon * DEG_TO_RAD, self.lat * DEG_TO_RAD,
                6378137.0, 1 / 298.257222101)
            order = np.lexsort((self.span_offset, self.doc_id, d))
            order = order[:self.KNN_K]
            g = res[res["q_id"] == ids[i]].sort_values("rank")
            want = [(str(self.doc_id[j]), int(self.span_offset[j]))
                    for j in order]
            have = list(zip(g["doc_id"], g["span_offset"].astype(int)))
            if have != want or not np.allclose(
                    g["dist_m"].to_numpy(), d[order], rtol=0, atol=1e-3):
                problems.append(f"knn query {ids[i]}: ranks or mm "
                                "distances differ from brute force")
        return problems

    def _agg_ops(self):
        return (self.ops.op_s("pip") + self.ops.op_s("cells")
                + self.ops.op_s("tiles"))

    def latencies(self):
        return self.ops.op_s("knn")

    def work(self):
        agg = self._agg_ops()
        return self.N * len(agg), sum(agg)

    def named_metrics(self):
        pip = self.ops.op_s("pip")
        cells = self.ops.op_s("cells") + self.ops.op_s("tiles")
        out = {"pip_pts_per_s": (self.N * len(pip) / sum(pip), "pts/s"),
               "cells_pts_per_s": (self.N * len(cells) / sum(cells),
                                   "pts/s")}
        out.update(self.latency_named("knn_batch", self.latencies()))
        return out

    def layer_metrics(self):
        out = super().layer_metrics()
        o = self.ops
        for kind in ("pip", "knn"):
            out[f"spatial.{kind}.call_s"] = (median(o.call_s[kind]), "s")
            out[f"spatial.{kind}.action_s"] = (median(o.action_s[kind]), "s")
        out["spatial.pip.hits"] = (self.pip_hits, "count")
        out["spatial.knn.rows"] = (self.knn_rows, "count")
        out["spatial.cells.action_s"] = (median(o.action_s["cells"]), "s")
        out["spatial.tiles.action_s"] = (median(o.action_s["tiles"]), "s")
        return out


class AnnServe(Workload):
    """Build the LSH and IVF indexes once, then probe both with a stream
    of small query batches."""

    name = "ann_serve"
    N = 10_000
    DIM = 64
    CLUSTERS = 32
    BATCH = 8
    K = 5

    def make_inputs(self):
        rng = self.rng(1)
        self.centers = rng.standard_normal((self.CLUSTERS, self.DIM))
        lab = rng.integers(self.CLUSTERS, size=self.N)
        self.V = (self.centers[lab]
                  + 0.35 * rng.standard_normal((self.N, self.DIM))).astype(
                      np.float32)
        table = pa.table({
            "vec_id": pa.array(np.arange(self.N, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(self.V.reshape(-1)), self.DIM).cast(
                    pa.list_(pa.float32())),
        })
        self.emb_path = os.path.join(self.wdir, "embeddings")
        write_parquet(table, self.emb_path, 2 * self.nproc)
        self.sizes = {"corpus": self.N, "dim": self.DIM, "dtype": "float32",
                      "clusters": self.CLUSTERS, "batch": self.BATCH,
                      "k": self.K}

    def _queries(self, b: int):
        rng = self.rng(1000 + b)
        lab = rng.integers(self.CLUSTERS, size=self.BATCH)
        Q = (self.centers[lab] + 0.35 * rng.standard_normal(
            (self.BATCH, self.DIM))).astype(np.float32)
        ids = np.arange(b * self.BATCH, (b + 1) * self.BATCH, dtype=np.int64)
        return ids, Q

    def _qdf(self, b: int):
        ids, Q = self._queries(b)
        return self.spark.createDataFrame(
            [(int(i), q.tolist()) for i, q in zip(ids, Q)],
            "q_id bigint, embedding array<float>")

    def _build(self, fn, kind: str):
        path = os.path.join(self.wdir, kind)
        self.ops.run(f"build_{kind}", f"functions.ann_index.{fn.__name__}",
                     lambda: fn(self.spark.read.parquet(self.emb_path), path,
                                dim=self.DIM),
                     lambda meta: None)
        return path

    def _probe(self, kind: str, b: int):
        from proj_4_spark.functions.ann_index import (ivf_topk_prebuilt,
                                                      lsh_topk_prebuilt)

        fn = lsh_topk_prebuilt if kind == "lsh" else ivf_topk_prebuilt
        path = self.lsh if kind == "lsh" else self.ivf
        return fn(self.spark, path, self._qdf(b), k=self.K)

    def warmup(self):
        # the first Spark job of a process pays for JVM warm-up; keep it
        # out of the timed build
        noop(self.spark.read.parquet(self.emb_path))

    def measure(self, seconds):
        from proj_4_spark.functions.ann_index import (build_ivf_index,
                                                      build_lsh_index)

        # the write side, once: a fresh process builds both indexes
        self.lsh = self._build(build_lsh_index, "lsh")
        self.ivf = self._build(build_ivf_index, "ivf")
        self.probed = collections.defaultdict(list)

        def probe(kind, b, stats=True):
            df = self.ops.run(kind if stats else f"{kind}_first",
                              f"functions.ann_index.{kind}_topk_prebuilt",
                              lambda: self._probe(kind, b), noop)
            if df is not None and stats:
                self.probed[kind].append(b)

        # the first probe of each index compiles its plan: run it, count
        # it as attempted, keep it out of the latency figures
        probe("lsh", -1, False)
        probe("ivf", -2, False)

        def steps():
            b = 0
            while True:
                for kind in ("lsh", "ivf"):
                    yield lambda k=kind, b=b: probe(k, b)
                b += 1

        self.loop(seconds, steps())

    def check(self):
        from proj_4_spark.functions.similarity import (ivf_topk,
                                                       lsh_bucket_topk)

        problems = [f"{kind}: no probe completed" for kind in ("lsh", "ivf")
                    if not self.probed[kind]]
        if problems:
            return problems
        corpus = self.spark.read.parquet(self.emb_path)
        inquery = {"lsh": lsh_bucket_topk, "ivf": ivf_topk}
        cols = ["q_id", "vec_id", "rank", "cosine"]
        first = {k: self.probed[k][0] for k in ("lsh", "ivf")}
        res = {}

        def collect(key, make):
            res[key] = make().toPandas()[cols].sort_values(
                ["q_id", "rank"]).reset_index(drop=True)

        concurrently(
            [lambda k=k: collect((k, "prebuilt"),
                                 lambda: self._probe(k, first[k]))
             for k in first]
            + [lambda k=k: collect((k, "in-query"), lambda: inquery[k](
                corpus, self._qdf(first[k]), k=self.K, dim=self.DIM))
               for k in first], self.nproc)
        Vn = self.V.astype(np.float64)
        Vn /= np.linalg.norm(Vn, axis=1, keepdims=True)
        self.recall = {}
        for kind, b in first.items():
            got = res[(kind, "prebuilt")]
            if not got.equals(res[(kind, "in-query")]):
                problems.append(f"{kind}: prebuilt probe differs from the "
                                "in-query operator")
            ids, Q = self._queries(b)
            exact = np.argsort(-(Q.astype(np.float64) @ Vn.T), axis=1,
                               kind="stable")[:, :self.K]
            hit = sum(len(set(got.loc[got["q_id"] == qid, "vec_id"])
                          & set(exact[qi].tolist()))
                      for qi, qid in enumerate(ids))
            self.recall[kind] = hit / (self.K * len(ids))
        return problems

    def latencies(self):
        return self.ops.op_s("lsh") + self.ops.op_s("ivf")

    def _build_s(self, kind: str) -> float:
        return self.ops.call_s[f"build_{kind}"][0]

    def work(self):
        return 2 * self.N, self._build_s("lsh") + self._build_s("ivf")

    def named_metrics(self):
        out = {"ann_build_s": (self.work()[1], "s")}
        out.update(self.latency_named("ann_probe", self.latencies()))
        r = self.recall
        out["ann_recall_at_5"] = ((r["lsh"] + r["ivf"]) / 2, "ratio")
        print(f"recall@5 lsh={r['lsh']:.4f} ivf={r['ivf']:.4f}")
        return out

    def layer_metrics(self):
        out = super().layer_metrics()
        pre = "functions.ann_index."
        out[pre + "build_lsh_s"] = (self._build_s("lsh"), "s")
        out[pre + "build_ivf_s"] = (self._build_s("ivf"), "s")
        files = nbytes = 0
        for path in (self.lsh, self.ivf):
            for d, _, fs in os.walk(path):
                for f in fs:
                    if f.endswith(".parquet"):
                        files += 1
                        nbytes += os.path.getsize(os.path.join(d, f))
        out[pre + "index_files"] = (files, "count")
        out[pre + "index_bytes"] = (nbytes, "B")
        for kind in ("lsh", "ivf"):
            out[pre + f"probe_call_s.{kind}"] = (
                median(self.ops.call_s[kind]), "s")
            out[pre + f"probe_action_s.{kind}"] = (
                median(self.ops.action_s[kind]), "s")
        return out


REGISTRY = {w.name: w for w in (ReprojectBulk, CrsManySmall, SpatialEnrich,
                                AnnServe)}
