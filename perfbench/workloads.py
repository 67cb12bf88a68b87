"""Seeded inputs, operations and engine-independent expected outputs for
the benchmark's two workloads.

Each workload runs three operations per iteration, ``op1`` to ``op3``:

=================  ================  ===========  ======================================
workload           op1               op2          op3
=================  ================  ===========  ======================================
geo_read_ingest    extract_pip_tile  tile_export  ingest: fresh pipeline run, then resume
point_join_corpus  snap              knn          corpus_prep (few-file input)
=================  ================  ===========  ======================================

Every operation ends in one small aggregate over its whole output, so each
call is checked against numbers computed without Spark (DuckDB over the
generated parquet, or numpy twins of the generators). The seed shifts every
generated row-id range and seeds the document text.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from landlensdb_spark import synth, tables
from landlensdb_spark.checkpoint import CheckpointTable

from perfbench.ledger import OP_KEY, SPAN_KEY

#: seeds map to disjoint row-id ranges of this stride; the cap keeps
#: ``key * synth.LON_MUL`` inside a signed 64-bit long
KEY_STRIDE = 1_000_000
MAX_SEED_SLOTS = 2_000

#: synth's probe field repeats every 100k keys: kNN never draws more
PROBE_PERIOD = synth.P_MOD

SIZES = {
    "geo_read_ingest": {"pages": 80_000, "files": 8, "buckets": 16},
    "point_join_corpus": {"snap_points": 250_000, "knn_points": 50_000, "knn_probes": 2_000,
                          "docs": 8_000, "doc_files": 2},
}


def key_offset(seed: int) -> int:
    return (seed % MAX_SEED_SLOTS) * KEY_STRIDE


# ---------------------------------------------------------------------------
# tracing spans
# ---------------------------------------------------------------------------

class Tracer:
    """Labels the jobs of each call with Spark local properties and keeps
    the call's wall-clock spans in memory. Disabled, it does nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.calls: list[dict] = []
        self._call: dict | None = None
        self._stack: list[str] = []

    @contextmanager
    def op(self, name: str, iteration: int):
        if not self.enabled:
            yield
            return
        tag = f"{name}|{iteration}"
        self._call = {"op": name, "iter": iteration, "tag": tag, "spans": []}
        self.sc.setLocalProperty(OP_KEY, tag)
        self._call["t0"] = time.time()
        try:
            yield
        finally:
            self._call["t1"] = time.time()
            self.sc.setLocalProperty(OP_KEY, None)
            self.calls.append(self._call)
            self._call = None

    @contextmanager
    def span(self, layer: str, kind: str = "construct"):
        if not self.enabled or self._call is None:
            yield
            return
        tag = f"{self._call['tag']}|{layer}"
        self._stack.append(tag)
        self.sc.setLocalProperty(SPAN_KEY, tag)
        t0 = time.time()
        try:
            yield
        finally:
            self._call["spans"].append(
                {"layer": layer, "kind": kind, "t0": t0, "t1": time.time(),
                 "tag": tag, "depth": len(self._stack)}
            )
            self._stack.pop()
            self.sc.setLocalProperty(SPAN_KEY, self._stack[-1] if self._stack else None)


class TracedCheckpoint(CheckpointTable):
    """CheckpointTable whose public methods run inside ``checkpoint`` spans,
    so the checkpoint's own jobs separate from the pipeline's."""

    def __init__(self, spark, path: str, tracer: Tracer):
        super().__init__(spark, path)
        self.tracer = tracer

    def pending(self, work, stage, unit_col):
        with self.tracer.span("checkpoint"):
            return super().pending(work, stage, unit_col)

    def log(self, rows):
        with self.tracer.span("checkpoint", "action"):
            return super().log(rows)


@dataclass
class Op:
    name: str
    run: Callable[[], tuple]
    prepare: Callable[[], None] | None = None


# ---------------------------------------------------------------------------
# generators (seeded, written with pyarrow: no Spark involved)
# ---------------------------------------------------------------------------

# copies of tables.build_page_row's private constants; the tests check the
# rows stay identical to the library generator's
_WORDS = (
    "land lens spark tile cell snap road image point query scan join group "
    "window batch filter"
).split()
_LANGS = ["en", "ja", "de", "fr", "pt"]


def _dms(micro: int, lat: bool) -> str:
    a = abs(micro)
    mm = (a % 1_000_000) * 60
    tag, ref = ("GPSLatitude", "NS") if lat else ("GPSLongitude", "EW")
    return (
        f"{tag}=({a // 1_000_000},{mm // 1_000_000},{(mm % 1_000_000) * 60}/1000000);"
        f"{tag}Ref={ref[0] if micro >= 0 else ref[1]}"
    )


def page_columns(ids: np.ndarray) -> dict:
    """The clustered ``tables.pages`` rows for ``ids`` as column lists."""
    ids = np.asarray(ids, dtype=np.int64)
    lon, lat = tables.np_page_coords(ids, clustered=True)
    has_geo = tables.np_has_geo(ids)
    is_exif = tables.np_is_exif(ids)
    prefix: dict[tuple[int, int], str] = {}
    urls, htmls, texts, langs = [], [], [], []
    for i, lo, la, g, x in zip(ids.tolist(), lon.tolist(), lat.tolist(),
                               has_geo.tolist(), is_exif.tolist()):
        key = ((i * 7) % len(_WORDS), i % 13 + 3)
        if key not in prefix:
            prefix[key] = " ".join(_WORDS[(key[0] + j) % len(_WORDS)] for j in range(key[1]))
        text = f"{prefix[key]} p{i}"
        if not g:
            geo = ""
        elif x:
            geo = (
                '<script type="application/x-exif">'
                + _dms(int(round(la * 1_000_000)), True)
                + _dms(int(round(lo * 1_000_000)), False)
                + "</script>"
            )
        else:
            geo = (
                f'<meta property="place:location:latitude" content="{la:.6f}"/>'
                f'<meta property="place:location:longitude" content="{lo:.6f}"/>'
            )
        urls.append(f"https://example.org/page/{i:08d}")
        htmls.append(
            f"<html><head><title>page {i}</title>{geo}</head>"
            f'<body><p data-text="1">{text}</p></body></html>'.encode()
        )
        texts.append(text)
        langs.append(_LANGS[i % len(_LANGS)])
    ts = tables.WARC_TS_BASE + (ids * tables.WARC_TS_MUL) % tables.WARC_TS_MOD
    return {
        "url": urls,
        "warc_ts": pa.array(ts * 1_000_000, pa.int64()).cast(pa.timestamp("us", tz="UTC")),
        "html": pa.array(htmls, pa.binary()),
        "text": texts,
        "lang": langs,
    }


def _write_parts(path: str, columns: dict, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), f"{path}/part-{k:05d}.parquet",
                       compression="zstd")


def write_pages(path: str, start: int, n: int, n_files: int) -> None:
    _write_parts(path, page_columns(np.arange(start, start + n)), n_files)


_VOCAB = _WORDS + "the and of data model city street photo map river north".split()


def doc_columns(seed: int, start: int, n: int) -> dict:
    """Seeded documents ``(doc_id, text)``: varied length, stop-word and
    punctuation density (so the quality gate drops some), e-mails, phone
    numbers and IPs for the redactor, and exact duplicates for dedup."""
    rng = np.random.default_rng([seed, 17])
    lens = rng.integers(4, 90, n)
    tokens = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(lens.sum()))]
    p = rng.random(len(tokens))
    tokens = np.char.add(tokens, np.where(p < 0.07, ".", np.where(p < 0.12, ",", "")))
    ends = np.cumsum(lens)
    texts = []
    for i, (a, b) in enumerate(zip((ends - lens).tolist(), ends.tolist())):
        t = " ".join(tokens[a:b].tolist())
        if i % 23 == 3:
            t += f" contact user{i % 977}@example.com"
        if i % 29 == 5:
            t += f" call 555-{i % 1000:03d}-{i % 10000:04d}"
        if i % 41 == 7:
            t += f" host 10.{i % 256}.{(i // 256) % 256}.1"
        if i % 50 == 9 and texts:
            t = texts[-1]
        texts.append(t)
    return {"doc_id": pa.array(np.arange(start, start + n), pa.int64()), "text": texts}


def snap_lon_col(k):
    """Snap probes: a 1M-position lattice over the road window (synth's own
    probe field has only 100k positions)."""
    return F.lit(synth.P_LON_BASE) + ((k * F.lit(synth.P_LON_MUL)) % F.lit(1_000_000)) / F.lit(1e7)


def snap_lat_col(k):
    return F.lit(synth.P_LAT_BASE) + ((k * F.lit(synth.P_LAT_MUL)) % F.lit(1_000_000)) / F.lit(1e7)


def np_snap_lonlat(k: np.ndarray):
    k = np.asarray(k, dtype=np.int64)
    return (synth.P_LON_BASE + ((k * synth.P_LON_MUL) % 1_000_000) / 1e7,
            synth.P_LAT_BASE + ((k * synth.P_LAT_MUL) % 1_000_000) / 1e7)


# ---------------------------------------------------------------------------
# engine-independent expectations
# ---------------------------------------------------------------------------

_DMS_RE = r"{tag}=\((\d+),(\d+),(\d+)/(\d+)\);{tag}Ref=([{refs}])"


def _coord_sql(h: str, tag: str, refs: str, meta: str, neg: str) -> str:
    pat = _DMS_RE.format(tag=tag, refs=refs)
    g = [f"regexp_extract({h}, '{pat}', {i})" for i in range(1, 6)]
    dec = (f"(CAST({g[0]} AS DOUBLE) + CAST({g[1]} AS DOUBLE) / 60.0"
           f" + (CAST({g[2]} AS DOUBLE) / CAST({g[3]} AS DOUBLE)) / 3600.0)")
    m = f"regexp_extract({h}, '<meta property=\"place:location:{meta}\" content=\"([^\"]+)\"', 1)"
    return (f"CASE WHEN {g[0]} <> '' THEN round(CASE WHEN {g[4]} = '{neg}' THEN -{dec} ELSE {dec} END, 6)"
            f" WHEN {m} <> '' THEN round(CAST({m} AS DOUBLE), 6) END")


def geo_expected(pages_path: str) -> dict:
    """DuckDB re-derivation of the geotags from the generated html, then
    the admin-grid and tile formulas in synth's SQL forms."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"""
            CREATE TEMP TABLE g AS
            SELECT url, lon, lat, {synth.grid_admin_sql('lon', 'lat')} AS admin_id,
                   {synth.tile_x_sql('lon', 14)} AS tx14, {synth.tile_y_sql('lat', 14)} AS ty14,
                   {synth.tile_x_sql('lon', 12)} AS tx12, {synth.tile_y_sql('lat', 12)} AS ty12
            FROM (SELECT url,
                         {_coord_sql('h', 'GPSLongitude', 'EW', 'longitude', 'W')} AS lon,
                         {_coord_sql('h', 'GPSLatitude', 'NS', 'latitude', 'S')} AS lat
                  FROM (SELECT url, decode(html) AS h
                        FROM read_parquet('{pages_path}/*.parquet')))
            WHERE lon IS NOT NULL AND lat IS NOT NULL
        """)
        rollup = con.execute("""
            SELECT count(*), sum(n), sum(admin_id), sum(tx14), sum(ty14) FROM
            (SELECT admin_id, tx14, ty14, count(*) AS n FROM g GROUP BY ALL)
        """).fetchone()
        export = con.execute("""
            SELECT count(*), sum(n), sum(tx12), sum(ty12), sum(a), sum(b), sum(c), sum(d) FROM
            (SELECT tx12, ty12, count(*) AS n, round(min(lon), 6) AS a, round(max(lon), 6) AS b,
                    round(min(lat), 6) AS c, round(max(lat), 6) AS d FROM g GROUP BY ALL)
        """).fetchone()
        ingest = con.execute(
            "SELECT count(*), count(DISTINCT url), sum(admin_id), sum(tx14), sum(ty14) FROM g"
        ).fetchone()
    finally:
        con.close()
    return {"extract_pip_tile": rollup, "tile_export": export, "ingest": ingest}


def ingest_output(out_path: str) -> tuple:
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(f"""
            SELECT count(*), count(DISTINCT url), sum(admin_id), sum(tile_x), sum(tile_y)
            FROM read_parquet('{out_path}/**/*.parquet', hive_partitioning = true)
        """).fetchone()
    finally:
        con.close()


def corpus_expected(docs_path: str) -> tuple:
    import duckdb

    from landlensdb_spark.entry_queries import ORACLES

    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}/*.parquet')")
        return con.execute(
            "SELECT count(*), sum(n_tokens), sum(shard_id), sum(doc_id), sum(quality) FROM ("
            + ORACLES["corpus_prep"] + ")"
        ).fetchone()
    finally:
        con.close()


def _merc(lon: np.ndarray, lat: np.ndarray):
    r = synth.MERC_R
    return (np.round(np.radians(lon) * r, 3),
            np.round(r * np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0)), 3))


def snap_expected(keys: np.ndarray, tolerance_m: float = 100.0) -> tuple:
    """(snapped count, sum of line ids): the roads are vertical, so the
    3857 distance to road j is the x difference."""
    roads = np.array([synth.P_LON_BASE + synth.road_lon_micro(j) / 1e6 for j in range(synth.N_ROADS)])
    rx = np.radians(roads) * synth.MERC_R
    count = total = 0
    for a in range(0, len(keys), 100_000):
        lon, _ = np_snap_lonlat(keys[a:a + 100_000])
        d = np.abs(np.radians(lon)[:, None] * synth.MERC_R - rx[None, :])
        near = d.argmin(axis=1)
        ok = d[np.arange(len(near)), near] <= tolerance_m
        count += int(ok.sum())
        total += int(near[ok].sum())
    return count, total


def knn_expected(point_keys: np.ndarray, probe_keys: np.ndarray, k: int) -> tuple:
    """(rows, sum of probe ids, sum of the k smallest squared 3857
    distances per probe). Exact: each probe scans the x-sorted points in a
    band of half-width w, doubling w until the k-th distance is <= w."""
    nx, ny = _merc(synth.np_probe_lon(point_keys), synth.np_probe_lat(point_keys))
    px, py = _merc(synth.np_probe_lon(probe_keys), synth.np_probe_lat(probe_keys))
    order = np.argsort(nx, kind="stable")
    sx, sy = nx[order], ny[order]
    total = 0.0
    for x, y in zip(px.tolist(), py.tolist()):
        w = 200.0
        while True:
            a, b = np.searchsorted(sx, [x - w, x + w])
            if b - a >= k:
                top = np.partition((sx[a:b] - x) ** 2 + (sy[a:b] - y) ** 2, k - 1)[:k]
                if top.max() <= w * w or b - a == len(sx):
                    total += float(top.sum())
                    break
            w *= 2
    return len(probe_keys) * k, int(probe_keys.sum()) * k, total


# ---------------------------------------------------------------------------
# operations (shared with the smoke mode at bench.py's shapes)
# ---------------------------------------------------------------------------

def extract_pip_tile(spark, tr: Tracer, pages_path: str, polys) -> tuple:
    from landlensdb_spark.operators.fused import extract_pip
    from landlensdb_spark.operators.tiles import assign_tiles

    pages = spark.read.parquet(pages_path)
    with tr.span("fused"):
        joined = extract_pip(pages, polys, keep=["url", "lang"])
    with tr.span("tiles"):
        tiled = assign_tiles(joined)
    with tr.span("fused", "action"):
        r = tiled.groupBy("admin_id", "tile_x", "tile_y").count().agg(
            F.count("*"), F.sum("count"), F.sum("admin_id"), F.sum("tile_x"), F.sum("tile_y")
        ).first()
    return tuple(r)


def tile_export(spark, tr: Tracer, pages_path: str) -> tuple:
    from landlensdb_spark.extract import extract_geotags
    from landlensdb_spark.operators.tiles import tile_stats

    pages = spark.read.parquet(pages_path)
    with tr.span("extract"):
        geo = extract_geotags(pages, with_text=False, keep=["url"]).select("url", "lon", "lat")
    with tr.span("tiles"):
        stats = tile_stats(geo, zoom=12)
    with tr.span("extract", "action"):
        r = stats.agg(
            F.count("*"), F.sum("n_records"), F.sum("tile_x"), F.sum("tile_y"),
            F.sum("min_lon"), F.sum("max_lon"), F.sum("min_lat"), F.sum("max_lat"),
        ).first()
    return tuple(r)


def snap(spark, tr: Tracer, probes, net) -> tuple:
    from landlensdb_spark.operators.snap import snap_to_network

    with tr.span("snap"):
        snapped = snap_to_network(probes, net, tolerance_m=100.0)
    with tr.span("snap", "action"):
        r = snapped.filter(F.col("line_id").isNotNull()).agg(
            F.count("*"), F.sum("line_id")
        ).first()
    return (r[0], r[1] or 0)


def knn(spark, tr: Tracer, probes, points, broadcast: bool) -> tuple:
    from landlensdb_spark.operators.knn import knn_join

    with tr.span("knn"):
        out = knn_join(probes, points, k=10, broadcast_probes=broadcast)
    with tr.span("knn", "action"):
        r = out.agg(F.count("*"), F.sum("probe_id"), F.sum("dist2")).first()
    return tuple(r)


def corpus_prep(spark, tr: Tracer, docs_path: str) -> tuple:
    from landlensdb_spark.entry_queries import corpus_prep_over

    docs = spark.read.parquet(docs_path)
    with tr.span("corpus_prep_over"):
        out = corpus_prep_over(docs)
    with tr.span("corpus_prep_over", "action"):
        r = out.agg(
            F.count("*"), F.sum("n_tokens"), F.sum("shard_id"), F.sum("doc_id"), F.sum("quality")
        ).first()
    return tuple(r)


def probe_points(spark, start: int, n: int, id_col: str, scale: int = 1, add: int = 0):
    """``n`` rows of synth's probe field at keys ``(start + i) * scale + add``."""
    k = F.col("id") * F.lit(scale) + F.lit(add)
    return spark.range(start, start + n).select(
        k.alias(id_col), synth.probe_lon_col(k).alias("lon"), synth.probe_lat_col(k).alias("lat")
    )


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def _close(a, b, rel: float = 1e-9) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return abs(float(a) - float(b)) <= rel * max(1.0, abs(float(a)), abs(float(b)))
    return int(a) == int(b)


def matches(got, want, rel: float = 1e-9) -> bool:
    """Element-wise equality of two result tuples: integers exactly, floats
    within ``rel`` (sums of doubles depend on the summation order)."""
    return (got is not None and len(got) == len(want)
            and all(g is not None and _close(g, w, rel) for g, w in zip(got, want)))


class Workload:
    """Inputs in ``work`` (one directory per set-up), Spark-side dims bound
    per session, ops and their expected outputs."""

    name = ""
    op_names: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.off = key_offset(seed)
        self.work = work
        self.sizes = SIZES[self.name]
        self.input_dir = ""
        self.expected: dict = {}

    def generate(self, input_dir: str) -> None:
        self.input_dir = input_dir

    def bind(self, spark, tr: Tracer) -> list[Op]:
        raise NotImplementedError

    def compute_expected(self) -> None:
        raise NotImplementedError

    def check(self, op: str, got: tuple) -> bool:
        return matches(got, self.expected[op])

    def rows_per_iteration(self) -> int:
        raise NotImplementedError

    def extra_metrics(self, spark, tr: Tracer) -> dict:
        """Traced-run measurements outside the per-layer ledger."""
        return {}

    def op_detail(self) -> dict:
        """Mean timings of steps inside an operation, ``<step>_s``."""
        return {}

    def reset_detail(self) -> None:
        """Forget the step timings taken so far (the warm-up's)."""


class GeoReadIngest(Workload):
    """The html-page workload: the two extraction queries, then the
    checkpointed geo pipeline over the same pages. ``ingest`` is a fresh
    run into an empty output directory with an empty checkpoint table
    (partitioned write, lineage actions, checkpoint log), then a second call
    that must resume with 0 pending units; that second call is timed on its
    own as ``resume``."""

    name = "geo_read_ingest"
    op_names = ("extract_pip_tile", "tile_export", "ingest")

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.round = 0
        self.resume_times: list[float] = []
        self.written: list[dict] = []

    def generate(self, input_dir):
        super().generate(input_dir)
        write_pages(f"{input_dir}/pages", self.off, self.sizes["pages"], self.sizes["files"])

    def compute_expected(self):
        self.expected = geo_expected(f"{self.input_dir}/pages")

    def _target(self) -> str:
        return f"{self.work}/ingest/{self.round}"

    def _fresh(self):
        shutil.rmtree(self._target(), ignore_errors=True)
        self.round += 1
        os.makedirs(self._target())

    def bind(self, spark, tr):
        from landlensdb_spark.pipeline import run_geo_pipeline

        polys = synth.admin_polygons(spark)
        pages, nb = f"{self.input_dir}/pages", self.sizes["buckets"]

        def pipeline(ckpt):
            with tr.span("pipeline", "action"):
                r = run_geo_pipeline(spark, spark.read.parquet(pages), polys,
                                     f"{self._target()}/out", ckpt, n_buckets=nb)
            return (r["pending_before"], r["processed_units"], r["processed_rows"])

        def ingest():
            ckpt = TracedCheckpoint(spark, f"{self._target()}/ckpt", tr)
            first = pipeline(ckpt)
            t0 = time.perf_counter()
            again = pipeline(ckpt)
            self.resume_times.append(time.perf_counter() - t0)
            return first + again

        return [
            Op("extract_pip_tile", lambda: extract_pip_tile(spark, tr, pages, polys)),
            Op("tile_export", lambda: tile_export(spark, tr, pages)),
            Op("ingest", ingest, prepare=self._fresh),
        ]

    def check(self, op, got):
        if op != "ingest":
            return matches(got, self.expected[op])
        nb, n = self.sizes["buckets"], self.sizes["pages"]
        if not matches(got, (nb, nb, n, 0, 0, 0)):
            return False
        out = f"{self._target()}/out"
        self.written.append(write_stats(out, f"{self.input_dir}/pages"))
        return matches(ingest_output(out), self.expected["ingest"])

    def rows_per_iteration(self):
        # the resume scans the pages again to list its units
        return 4 * self.sizes["pages"]

    def op_detail(self):
        return {"resume_s": statistics.mean(self.resume_times)} if self.resume_times else {}

    def reset_detail(self):
        self.resume_times.clear()

    def extra_metrics(self, spark, tr):
        out = {**isolation_runs(spark, f"{self.input_dir}/pages"),
               **kernel_rates(f"{self.input_dir}/pages")}
        if self.written:
            out.update({k: statistics.median(w[k] for w in self.written) for k in self.written[0]})
        return out


class PointJoinCorpus(Workload):
    """No html and no page scan: the snap and kNN point joins over
    generated points, then corpus_prep_over over seeded documents stored in
    fewer files than task slots, so its ``repartition(slots)`` gate engages
    as in the registered query."""

    name = "point_join_corpus"
    op_names = ("snap", "knn", "corpus_prep")

    def generate(self, input_dir):
        super().generate(input_dir)
        s = self.sizes
        _write_parts(f"{input_dir}/docs", doc_columns(self.seed, self.off, s["docs"]), s["doc_files"])

    def compute_expected(self):
        s = self.sizes
        snap_keys = np.arange(self.off, self.off + s["snap_points"])
        pt_keys = np.arange(self.off, self.off + s["knn_points"])
        pr_keys = np.arange(self.off, self.off + s["knn_probes"]) * 13 + 7
        self.expected = {"snap": snap_expected(snap_keys),
                         "knn": knn_expected(pt_keys, pr_keys, 10),
                         "corpus_prep": corpus_expected(f"{self.input_dir}/docs")}

    def bind(self, spark, tr):
        from landlensdb_spark.operators.knn import clear_res_cache

        s = self.sizes
        if s["knn_points"] > PROBE_PERIOD or s["knn_probes"] > PROBE_PERIOD:
            raise ValueError("kNN draws at most 100k keys from synth's probe field")
        net = synth.road_network(spark)
        k = F.col("id")
        snap_probes = spark.range(self.off, self.off + s["snap_points"]).select(
            k.alias("key"), snap_lon_col(k).alias("lon"), snap_lat_col(k).alias("lat")
        )
        points = probe_points(spark, self.off, s["knn_points"], "point_id")
        probes = probe_points(spark, self.off, s["knn_probes"], "probe_id", 13, 7)
        docs = f"{self.input_dir}/docs"
        return [
            Op("snap", lambda: snap(spark, tr, snap_probes, net)),
            # the density probe is memoized per point plan; clearing it makes
            # every call pay it, as a call against a new point table does
            Op("knn", lambda: knn(spark, tr, probes, points, broadcast=False),
               prepare=clear_res_cache),
            Op("corpus_prep", lambda: corpus_prep(spark, tr, docs)),
        ]

    def check(self, op, got):
        # the sum of squared distances tolerates 1e-3 m mercator rounding
        # differences between the JVM and numpy
        return matches(got, self.expected[op], rel=1e-6 if op == "knn" else 1e-9)

    def rows_per_iteration(self):
        s = self.sizes
        return s["snap_points"] + s["knn_points"] + s["knn_probes"] + s["docs"]


WORKLOADS = {w.name: w for w in (GeoReadIngest, PointJoinCorpus)}


# ---------------------------------------------------------------------------
# measurements outside the ledger
# ---------------------------------------------------------------------------

def _files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")]


def write_stats(out_path: str, in_path: str) -> dict:
    written = _files(out_path)
    return {
        "pipeline.write_amp": sum(map(os.path.getsize, written))
        / max(1, sum(map(os.path.getsize, _files(in_path)))),
        "pipeline.files_written": float(len(written)),
    }


def _median_time(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def isolation_runs(spark, pages_path: str) -> dict:
    """Noop-sink runs over the (url, lang, html) columns: a JVM-only scan,
    and the same scan through an identity ``mapInArrow``."""
    def scan():
        return spark.read.parquet(pages_path).select("url", "lang", "html")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    schema = "url string, lang string, html binary"
    return {
        "scan.noop_s": _median_time(lambda: noop(scan())),
        "boundary.identity_s": _median_time(
            lambda: noop(scan().mapInArrow(lambda batches: batches, schema))
        ),
    }


def _rate(fn, rows: int, seconds: float = 0.3) -> float:
    fn()
    rates = []
    t_end = time.perf_counter() + seconds
    while len(rates) < 3 or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        rates.append(rows / (time.perf_counter() - t0))
    return statistics.median(rates)


def kernel_rates(pages_path: str) -> dict:
    """In-process kernel throughput over one input file, no Spark; each
    kernel's output is checked before it is timed."""
    from landlensdb_spark.extract import extract_geotag_pa
    from landlensdb_spark.geo.cells import np_cell_decode, np_cell_encode
    from landlensdb_spark.operators.pip_join import pack_refine_state, refine_points

    first = sorted(_files(pages_path))[0]
    html = pq.read_table(first, columns=["html"]).column("html").combine_chunks().cast(pa.string())
    lat, lon, _ = extract_geotag_pa(html, with_text=False)
    tagged = ~np.isnan(lat)
    urls = pq.read_table(first, columns=["url"]).column("url").to_pylist()
    ids = np.array([int(u.rsplit("/", 1)[1]) for u in urls], dtype=np.int64)
    if not np.array_equal(tagged, tables.np_has_geo(ids)):
        raise ValueError("extract_geotag_pa missed or invented geotags")
    lon, lat = lon[tagged], lat[tagged]

    rings = {}
    for gx in range(synth.GRID_NX):
        for gy in range(synth.GRID_NY):
            x0, y0 = synth.GRID_X0 + gx * synth.GRID_DX, synth.GRID_Y0 + gy * synth.GRID_DY
            x1, y1 = x0 + synth.GRID_DX, y0 + synth.GRID_DY
            rings[gx * synth.GRID_NY + gy] = [np.array(
                [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])]
    state = pack_refine_state(rings)
    pids = (np.floor((lon - synth.GRID_X0) / synth.GRID_DX).astype(np.int64) * synth.GRID_NY
            + np.floor((lat - synth.GRID_Y0) / synth.GRID_DY).astype(np.int64))
    if not refine_points(state, lon, lat, pids).all():
        raise ValueError("refine_points rejected a point inside its own grid cell")
    if not (np_cell_decode(np_cell_encode(lon, lat, 15))[0] == 15).all():
        raise ValueError("np_cell_encode lost the resolution tag")
    return {
        "extract.kernel_rows_per_s": _rate(lambda: extract_geotag_pa(html, with_text=False), len(html)),
        "pip_join.refine_rows_per_s": _rate(lambda: refine_points(state, lon, lat, pids), len(lon)),
        "cells.encode_rows_per_s": _rate(lambda: np_cell_encode(lon, lat, 15), len(lon)),
    }
