"""The benchmark workloads. Each is a closed loop with one client: the next
op starts when the previous one has returned and passed its output check.

A workload has:
  prepare(rng, root)  seeded inputs under `root`; no Spark, not timed
  warmup(ctx)         interactive ops that warm the session, counted in
                      set-up
  schedule()          the endless stream of (label, fn, args) interactive
                      ops the timed loop runs until its deadline (an op
                      started before it finishes)
  batch()             the fixed list of batch ops run once after the loop
  finish(ctx)         run-level checks after the batch ops
  probes(ctx)         traced runs only, after the timed loop: direct calls
                      into single layers (they never perturb the loop)
  end_to_end(ctx)     the BENCHMARK.json end-to-end metrics
  named(ctx)          the workload's own metrics, printed by name
  layers(ctx)         its per-layer metrics from spans and samples

`image_io` is built from three parts (ROI reads, streaming ingest, bulk
conversion) that share one session and one warm-up; its loop is ROI reads
and its batch ops a conversion and a stream. `llm_curate` never touches
image I/O; its loop is ANN queries against a trained index and its batch
ops an index build and a curation pass.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time

import numpy as np

from perfbench import inputs

MB = 1e6


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def mean(xs) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


def rate(nbytes, seconds) -> float:
    """MB per second; 0.0 when nothing was timed."""
    total = sum(seconds)
    return sum(nbytes) / MB / total if total > 0 else 0.0


class Ctx:
    """Run state shared by a workload's ops: session, tracer, samples and
    the attempted/failed ledger (every failure is kept by name)."""

    def __init__(self, spark, tracer, work: str, cpu):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.cpu = cpu              # () -> CPU seconds used so far
        self.samples: dict[str, list] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.engine: dict = {}

    def add(self, key: str, value) -> None:
        self.samples.setdefault(key, []).append(value)

    def op(self, label: str, fn, *args) -> bool:
        """Run one op. `fn` returns (ok, samples); list-valued samples
        extend, others append; all are kept only if the check passed."""
        self.attempted += 1
        err = None
        cpu0 = self.cpu()
        try:
            ok, got = fn(self, *args)
        except Exception as e:  # a failing op is counted, never fatal
            ok, got, err = False, {}, f"{type(e).__name__}: {e}"
        got = dict(got)
        got["cpu_s." + label.split("[")[0]] = self.cpu() - cpu0
        if not ok:
            self.failed += 1
            self.failures.append(f"{label}: {err or 'output check failed'}")
            return False
        for k, v in got.items():
            if isinstance(v, list):
                self.samples.setdefault(k, []).extend(v)
            else:
                self.add(k, v)
        return True

    def span_times(self, name: str, timed_only: bool = True) -> list:
        return [s.dur for s in self.tr.spans
                if s.name == name and (s.op is not None or not timed_only)]


def _clock() -> float:
    return time.perf_counter()


def _open_image(ctx, path: str, shape, channels, pps, n_scenes=1):
    """BioImage(path) plus the metadata a viewer shows, checked."""
    from bioio_spark import BioImage

    t0 = _clock()
    with ctx.tr.span("bio_image.open", "build"):
        img = BioImage(path, spark=ctx.spark)
        dims = img.dims
        names = img.channel_names
        sizes = img.physical_pixel_sizes
    dt = _clock() - t0
    ok = (len(img.scenes) == n_scenes and tuple(dims.shape) == shape
          and dims.order == "TCZYX" and list(names) == channels
          and np.allclose([sizes.Z, sizes.Y, sizes.X], pps))
    return img, ok, dt


# ---------------------------------------------------------------------------
# image parts

class RoiPart:
    """Interactive viewer: open an image, read one ROI, collect it; each op
    does so on a tiled deflate OME-TIFF and an OME-Zarr store. Windows
    alternate between one inside a single tile and one spanning several."""

    SHAPE = (2, 2, 3, 512, 512)
    TILE = 128
    CHANNELS = ["DAPI", "GFP"]
    PPS = (1.5, 0.325, 0.325)

    def prepare(self, rng, root: str) -> None:
        self.images = []            # (path, kind, block)
        for i in range(2):
            block = inputs.smooth_scene(rng, self.SHAPE)
            path = os.path.join(root, f"roi_{i}.ome.tiff")
            with open(path, "wb") as f:
                f.write(inputs.encode_tiled_ome_tiff(
                    [block], self.CHANNELS, self.PPS, self.TILE))
            self.images.append((path, "tiff", block))
            block = inputs.smooth_scene(rng, self.SHAPE)
            path = os.path.join(root, f"roi_{i}.ome.zarr")
            inputs.write_ome_zarr(path, block, self.CHANNELS, self.PPS,
                                  self.TILE)
            self.images.append((path, "zarr", block))
        self.windows = [self._window(rng, j % 2 == 0) for j in range(1024)]

    def _window(self, rng, sub_tile: bool) -> dict:
        """A seeded window of fixed size and tile footprint, so every seed
        asks for the same amount of work: 64x64 inside one tile, or
        192x192 across exactly 2x2 tiles."""
        t_n, c_n, z_n, y_n, x_n = self.SHAPE
        n = y_n // self.TILE
        size = self.TILE // 2 if sub_tile else self.TILE * 3 // 2
        lo, hi = (0, self.TILE - size) if sub_tile else (1, self.TILE // 2)
        ty, tx = (int(v) for v in rng.integers(0, n - (not sub_tile), 2))
        y0 = ty * self.TILE + int(rng.integers(lo, hi))
        x0 = tx * self.TILE + int(rng.integers(lo, hi))
        return {"t": int(rng.integers(0, t_n)), "c": int(rng.integers(0, c_n)),
                "z": int(rng.integers(0, z_n)), "y": (y0, y0 + size),
                "x": (x0, x0 + size)}

    def _read(self, ctx, path: str, block, win: dict):
        img, ok, t_open = _open_image(ctx, path, self.SHAPE, self.CHANNELS,
                                      self.PPS)
        if not ok:
            return False, t_open, 0.0
        t0 = _clock()
        with ctx.tr.span("bio_image.read_window", "build"):
            df = img.read_window(**win)
        with ctx.tr.span("bio_image.window_collect", "exec"):
            rows = df.toPandas()
        t_read = _clock() - t0
        (y0, y1), (x0, x1) = win["y"], win["x"]
        ref = block[win["t"], win["c"], win["z"], y0:y1, x0:x1]
        ok = (len(rows) == ref.size
              and all((rows[d] == win[d]).all() for d in "tcz"))
        if ok:
            got = np.full(ref.shape, -1.0)
            got[rows["y"].to_numpy() - y0,
                rows["x"].to_numpy() - x0] = rows["value"].to_numpy()
            ok = bool(np.array_equal(got, ref))
        return ok, t_open, t_read

    def op(self, ctx, i: int):
        """One viewer op: a TIFF and a Zarr image (two acquisitions side by
        side), each opened and read at one window. One window is sub-tile
        and the other multi-tile, swapping formats every op, so every op
        costs about the same."""
        pair = self.images[2 * ((i // 2) % 2):2 * ((i // 2) % 2) + 2]
        wins = self.windows[(2 * i) % len(self.windows):][:2]
        if i % 2:
            wins = wins[::-1]
        got = {"roi_op_s": 0.0, "roi_bytes": 0}
        for (path, kind, block), win in zip(pair, wins):
            ok, t_open, t_read = self._read(ctx, path, block, win)
            if not ok:
                return False, {}
            got["roi_op_s"] += t_open + t_read
            got[f"open_s.{kind}"] = t_open
            got[f"read_s.{kind}"] = t_read
            got["roi_bytes"] += block[0, 0, 0, slice(*win["y"]),
                                      slice(*win["x"])].nbytes
        return True, got

    def warmup(self, ctx) -> None:
        # the JVM keeps compiling the ROI path over its first few ops
        for i in range(-4, 0):
            ctx.op(f"warmup.roi[{i}]", self.op, i)

    def probes(self, ctx) -> None:
        from bioio_spark import BioImage
        from bioio_spark.sources.tiff_image import read_tiff_window
        from bioio_spark.sources.zarr_image import read_zarr_window

        for path, kind, _ in self.images:
            with ctx.tr.span("plugins.route", "build"):
                entry = BioImage.determine_plugin(path)
            with ctx.tr.span("sources.catalog", "build"):
                entry.reader(path).to_dataset(ctx.spark)
            direct = read_tiff_window if kind == "tiff" else read_zarr_window
            for win in self.windows[:4]:
                with ctx.tr.span("sources.window_build", "build"):
                    direct(ctx.spark, path, **win)

    def named(self, ctx) -> dict:
        s = ctx.samples
        reads = s.get("read_s.tiff", []) + s.get("read_s.zarr", [])
        out = {"open_p50_s": median(s.get("open_s.tiff", [])
                                    + s.get("open_s.zarr", [])),
               "roi_read_p50_s": median(reads),
               "roi_reads": len(reads),
               "roi_read_p50_s.tiff": median(s.get("read_s.tiff")),
               "roi_read_p50_s.zarr": median(s.get("read_s.zarr"))}
        if len(reads) >= 100:   # p90 needs 10 samples above it
            out["roi_read_p90_s"] = float(np.percentile(reads, 90))
        return out

    def layers(self, ctx) -> dict:
        reads = max(2 * len(ctx.samples.get("roi_op_s", [])), 1)
        eng = engine_under(ctx, {"bio_image.read_window",
                                 "bio_image.window_collect"})
        return {
            "plugins.route_s": median(ctx.span_times("plugins.route", False)),
            "sources.catalog_s": median(
                ctx.span_times("sources.catalog", False)),
            "bio_image.window_build_s": median(
                ctx.span_times("bio_image.read_window")),
            "sources.window_build_s": median(
                ctx.span_times("sources.window_build", False)),
            "bio_image.window_collect_s": median(
                ctx.span_times("bio_image.window_collect")),
            "sources.jobs_per_roi": eng["jobs"] / reads,
            "sources.tasks_per_roi": eng["tasks"] / reads,
        }


class ConvertPart:
    """Archive conversion: read each scene of a multi-scene OME-TIFF as
    planes, save the image as a 2-level OME-Zarr, check both levels."""

    SHAPE = (1, 2, 2, 256, 256)
    N_SCENES = 2
    N_FILES = 2
    CHANNELS = ["DAPI", "GFP"]
    PPS = (2.0, 0.5, 0.5)

    def prepare(self, rng, root: str) -> None:
        self.dir = os.path.join(root, "acquisition")
        os.makedirs(self.dir)
        self.files = []
        for i in range(self.N_FILES):
            blocks = [inputs.smooth_scene(rng, self.SHAPE)
                      for _ in range(self.N_SCENES)]
            path = os.path.join(self.dir, f"acq{i:03d}.ome.tiff")
            with open(path, "wb") as f:
                f.write(inputs.encode_tiled_ome_tiff(
                    blocks, self.CHANNELS, self.PPS, 128))
            self.files.append((path, blocks))

    def _planes(self, ctx, img, block):
        t0 = _clock()
        with ctx.tr.span("sources.planes_build", "build"):
            df = img.get_planes_dataframe()
        with ctx.tr.span("sources.planes_exec", "exec"):
            rows = df.collect()
        dt = _clock() - t0
        got = np.full(block.shape, -1.0)
        for r in rows:
            got[r["t"], r["c"], r["z"], r["y0"]:r["y0"] + r["h"],
                r["x0"]:r["x0"] + r["w"]] = np.asarray(
                    r["values"]).reshape(r["h"], r["w"])
        # per-(t, c, z) checksums against numpy, then exact equality
        ok = all(got[p].sum() == block[p].sum()
                 and np.array_equal(got[p], block[p])
                 for p in np.ndindex(block.shape[:3]))
        return ok, dt

    def op(self, ctx, i: int):
        path, blocks = self.files[i % len(self.files)]
        img, ok, t_open = _open_image(ctx, path, self.SHAPE, self.CHANNELS,
                                      self.PPS, self.N_SCENES)
        if not ok:
            return False, {}
        planes_s = []
        for s, block in enumerate(blocks):
            img.set_scene(s)
            ok, dt = self._planes(ctx, img, block)
            if not ok:
                return False, {}
            planes_s.append(dt)
        store = os.path.join(ctx.work, f"out_{i}.ome.zarr")
        t0 = _clock()
        with ctx.tr.span("bio_image.save", "exec"):
            img.save(store, n_levels=2)
        t_save = _clock() - t0
        with ctx.tr.span("verify.reopen"):
            for s, block in enumerate(blocks):
                root = os.path.join(store, f"scene_{s}.zarr")
                if not (np.array_equal(
                        inputs.read_zarr_array(os.path.join(root, "0")),
                        block) and np.array_equal(
                        inputs.read_zarr_array(os.path.join(root, "1")),
                        inputs.downsample_2x(block))):
                    return False, {}
        shutil.rmtree(store)
        nbytes = sum(b.nbytes for b in blocks)
        return True, {"convert_open_s": t_open, "planes_s": planes_s,
                      "scene_bytes": [b.nbytes for b in blocks],
                      "save_s": t_save, "convert_bytes": nbytes,
                      "bulk_s": sum(planes_s) + t_save, "bulk_bytes": nbytes}

    def probes(self, ctx) -> None:
        from bioio_spark import BioImage
        from bioio_spark.operators.pyramid import build_pyramid
        from bioio_spark.writers import save_ome_zarr

        path, blocks = self.files[0]
        img = BioImage(path, spark=ctx.spark)
        with ctx.tr.span("operators.pyramid", "exec"):
            (build_pyramid(img.get_stack_dataframe(), 2)
             .write.format("noop").mode("overwrite").save())
        store = os.path.join(ctx.work, "probe.ome.zarr")
        with ctx.tr.span("writers.save_ome_zarr", "exec"):
            report = save_ome_zarr(img, store, n_levels=2)
        ctx.add("chunks_written", sum(r["n_chunks"] for r in report))
        ctx.add("bytes_per_pixel_byte", sum(r["n_bytes"] for r in report)
                / sum(b.nbytes for b in blocks))
        shutil.rmtree(store)

    def named(self, ctx) -> dict:
        s = ctx.samples
        return {"decode_mb_s": rate(s.get("scene_bytes", []),
                                    s.get("planes_s", [])),
                "convert_mb_s": rate(s.get("convert_bytes", []),
                                     s.get("save_s", [])),
                "files_converted": len(s.get("save_s", []))}

    def layers(self, ctx) -> dict:
        s = ctx.samples
        return {
            "sources.planes_build_s": median(
                ctx.span_times("sources.planes_build")),
            "sources.planes_exec_s": median(
                ctx.span_times("sources.planes_exec")),
            "writers.save_s": median(
                ctx.span_times("writers.save_ome_zarr", False)),
            "writers.chunks_written": mean(s.get("chunks_written")),
            "writers.bytes_per_pixel_byte": mean(
                s.get("bytes_per_pixel_byte")),
            "operators.pyramid_s": median(
                ctx.span_times("operators.pyramid", False)),
        }


class StreamPart:
    """Live acquisition QC: the acquisition directory streamed through
    decode and per-scene stats into a memory sink, one file per trigger,
    under a fresh query name and checkpoint each time."""

    FILES_PER_TRIGGER = 1

    def prepare(self, convert: ConvertPart) -> None:
        self.dir = convert.dir
        self.n_files = len(convert.files)
        self.pixel_bytes = sum(b.nbytes for _, bs in convert.files
                               for b in bs)
        self.expected = {}
        for path, blocks in convert.files:
            v = np.concatenate([b.ravel() for b in blocks]).astype(np.float64)
            stem = os.path.basename(path).split(".")[0]
            self.expected[stem] = (v.size, float(v.sum()), float(v.max()))

    def op(self, ctx, i: int):
        from bioio_spark import streaming

        spark = ctx.spark
        qname = f"ingest_{i + 1}"
        ckpt = os.path.join(ctx.work, f"ckpt_{qname}")
        with streaming.bounded_stream_partitions(spark):
            t0 = _clock()
            with ctx.tr.span("streaming.build", "build"):
                src = streaming.read_image_stream(
                    spark, self.dir,
                    max_files_per_trigger=self.FILES_PER_TRIGGER)
                stats = streaming.streaming_scene_stats(
                    streaming.streaming_decode_pixels(src))
                q = (stats.writeStream.format("memory").queryName(qname)
                     .outputMode("complete")
                     .option("checkpointLocation", ckpt).start())
            t_start = _clock() - t0
            try:
                with ctx.tr.span("streaming.process_all", "exec"):
                    # micro-batch jobs run under the query's runId group
                    ctx.tr.alias(str(q.runId))
                    q.processAllAvailable()
                wall = _clock() - t0
                progress = [p for p in q.recentProgress
                            if p.get("numInputRows", 0) > 0]
            finally:
                q.stop()
        with ctx.tr.span("verify.stats"):
            rows = spark.table(qname).collect()
        spark.catalog.dropTempView(qname)
        shutil.rmtree(ckpt)
        got = {r["scene"]: (r["n_px"], r["sum_val"], r["max_val"])
               for r in rows}
        ok = (got == self.expected
              and sum(p["numInputRows"] for p in progress) == self.n_files)
        dur = [p["durationMs"] for p in progress]
        state = [o for p in progress for o in p.get("stateOperators", [])]
        return ok, {
            "stream_start_s": t_start, "ingest_s": wall,
            "bulk_s": wall, "bulk_bytes": self.pixel_bytes,
            "trigger_s": [d["triggerExecution"] / 1e3 for d in dur],
            "triggers": len(progress),
            **{f"ms.{k}": [d.get(k, 0) for d in dur]
               for k in ("addBatch", "queryPlanning", "walCommit",
                         "commitOffsets", "latestOffset")},
            "state_rows": max((o.get("numRowsTotal", 0) for o in state),
                              default=0),
            "state_memory_bytes": max((o.get("memoryUsedBytes", 0)
                                       for o in state), default=0),
        }

    def named(self, ctx) -> dict:
        s = ctx.samples
        return {"ingest_files_per_s": (len(s.get("ingest_s", []))
                                       * self.n_files
                                       / max(sum(s.get("ingest_s", [])),
                                             1e-9)),
                "trigger_p50_s": median(s.get("trigger_s")),
                "stream_start_p50_s": median(s.get("stream_start_s")),
                "streams": len(s.get("ingest_s", []))}

    def layers(self, ctx) -> dict:
        s = ctx.samples
        out = {"streaming.build_s": median(ctx.span_times("streaming.build")),
               "streaming.triggers": mean(s.get("triggers"))}
        for key, name in (("addBatch", "add_batch_ms"),
                          ("queryPlanning", "query_planning_ms"),
                          ("walCommit", "wal_commit_ms"),
                          ("commitOffsets", "commit_offsets_ms"),
                          ("latestOffset", "latest_offset_ms")):
            out[f"streaming.{name}"] = median(s.get(f"ms.{key}"))
        out["streaming.state_rows"] = mean(s.get("state_rows"))
        out["streaming.state_memory_bytes"] = mean(
            s.get("state_memory_bytes"))
        return out


class ImageIO:
    """Viewer reads, live-acquisition ingest and archive conversion on one
    session: plugins, sources, bio_image, formats, streaming, operators and
    writers."""

    name = "image_io"

    def __init__(self):
        self.roi, self.convert, self.stream = (RoiPart(), ConvertPart(),
                                               StreamPart())

    def prepare(self, rng, root: str) -> None:
        self.roi.prepare(rng, root)
        self.convert.prepare(rng, root)
        self.stream.prepare(self.convert)

    def warmup(self, ctx) -> None:
        self.roi.warmup(ctx)

    def schedule(self):
        for i in itertools.count():
            yield f"roi[{i}]", self.roi.op, (i,)

    def batch(self):
        # each the first of its kind in the session, as a user converts an
        # archive or starts a stream once: about 9 s + 4 s on a 4-core host
        return [("convert[0]", self.convert.op, (0,)),
                ("stream[0]", self.stream.op, (0,))]

    def finish(self, ctx) -> None:
        pass

    def probes(self, ctx) -> None:
        self.roi.probes(ctx)
        self.convert.probes(ctx)
        formats_probe(ctx, [p for p, _ in self.convert.files],
                      [b for _, _, b in self.roi.images])

    def end_to_end(self, ctx) -> dict:
        return {"op_p50_s": median(ctx.samples.get("roi_op_s")),
                "op_cpu_s": median(ctx.samples.get("cpu_s.roi"))}

    def named(self, ctx) -> dict:
        s = ctx.samples
        batch_cpu = s.get("cpu_s.convert", []) + s.get("cpu_s.stream", [])
        return {"throughput_mb_s": rate(s.get("bulk_bytes", []),
                                        s.get("bulk_s", [])),
                "cpu_s_per_mb": sum(batch_cpu) * MB / max(
                    sum(s.get("bulk_bytes", [])), 1),
                **self.roi.named(ctx), **self.convert.named(ctx),
                **self.stream.named(ctx)}

    def layers(self, ctx) -> dict:
        return {"bio_image.open_s": median(ctx.span_times("bio_image.open")),
                **{f"formats.{k}": median(ctx.samples.get(k))
                   for k in ("tiff_decode_mb_s", "zarr_encode_mb_s",
                             "zarr_decode_mb_s")},
                **self.roi.layers(ctx), **self.convert.layers(ctx),
                **self.stream.layers(ctx)}


# ---------------------------------------------------------------------------
# llm_curate

class LlmCurate:
    """Training-data curation: quality -> MinHash -> clusters over the
    documents, and an IVF index trained by its first ivf_topk call (a
    fresh cache key) and then queried from the session memo. Inputs follow
    the sf0.1 `documents` and `embeddings` tables (see inputs.py): the
    embeddings at their full size, the documents at a tenth of it."""

    name = "llm_curate"
    N_DOCS = 475
    N_PLANTED = 25                  # 5% of the documents, as in sf0.1
    N_VECS = 2000
    DIM = 64
    # probing 2 of 8 lists at random would find a quarter of the top 10;
    # the library's probe finds about 0.42 on these isotropic vectors
    RECALL_FLOOR = 0.25

    def prepare(self, rng, root: str) -> None:
        docs, self.planted = inputs.make_documents(
            rng, self.N_DOCS, self.N_PLANTED)
        emb = inputs.make_embeddings(rng, self.N_VECS, self.DIM)
        self.docs_path = os.path.join(root, "documents.parquet")
        self.emb_path = os.path.join(root, "embeddings.parquet")
        docs.to_parquet(self.docs_path, index=False)
        emb.to_parquet(self.emb_path, index=False)
        self.n_docs = len(docs)
        self.text_bytes = int(docs["text"].str.len().sum())
        self.emb_bytes = self.N_VECS * self.DIM * 4
        vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
        self.unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        self.queries = [int(q) for q in rng.integers(0, self.N_VECS, 1024)]
        self._oracles()

    def _oracles(self) -> None:
        """Expected quality gates, MinHash pairs and clusters from the
        library's own DuckDB oracles over the same parquet."""
        import duckdb

        from bioio_spark.functions.clusters import dedup_clusters_oracle
        from bioio_spark.functions.dedup import minhash_pairs_cte
        from bioio_spark.functions.text import QUALITY_ORACLE

        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{self.docs_path}')")
            self.quality_ref = sorted(tuple(r) for r in con.execute(
                f"SELECT doc_id, gate_margin FROM ({QUALITY_ORACLE})"
            ).fetchall())
            con.execute(f"CREATE TABLE oracle_pairs AS WITH "
                        f"{minhash_pairs_cte()} SELECT doc_a, doc_b "
                        f"FROM pairs")
            self.pairs_ref = {tuple(r) for r in con.execute(
                "SELECT doc_a, doc_b FROM oracle_pairs").fetchall()}
            self.clusters_ref = sorted(tuple(r) for r in con.execute(
                dedup_clusters_oracle("pairs AS (SELECT doc_a, doc_b "
                                      "FROM oracle_pairs)")).fetchall())
        finally:
            con.close()

    def curate(self, ctx, i: int):
        from bioio_spark.functions import clusters, dedup, text

        ctx.spark.catalog.clearCache()   # the previous pass's deduped reps
        docs = ctx.spark.read.parquet(self.docs_path)
        t0 = _clock()
        with ctx.tr.span("functions.quality_build", "build"):
            q = text.quality_score(docs)
        with ctx.tr.span("functions.quality_exec", "exec"):
            q_rows = q.select("doc_id", "gate_margin").collect()
        with ctx.tr.span("functions.minhash_build", "build"):
            pairs = dedup.minhash_candidate_pairs(docs)
        with ctx.tr.span("functions.minhash_exec", "exec"):
            p_rows = pairs.collect()
        with ctx.tr.span("functions.clusters_build", "build"):
            cl = clusters.dedup_clusters(pairs)
        with ctx.tr.span("functions.clusters_exec", "exec"):
            c_rows = cl.collect()
        dt = _clock() - t0
        got_pairs = {(r["doc_a"], r["doc_b"]) for r in p_rows}
        ok = (sorted(tuple(r) for r in q_rows) == self.quality_ref
              and got_pairs == self.pairs_ref
              and len(p_rows) == len(got_pairs)
              and sorted(tuple(r) for r in c_rows) == self.clusters_ref)
        found = sum((a, b) in got_pairs for a, b in self.planted)
        return ok, {"curate_s": dt,
                    "pairs_per_doc": len(got_pairs) / self.n_docs,
                    "planted_recall": found / len(self.planted)}

    def ann(self, ctx, index: int, j: int):
        """ivf_topk for seeded query j against index `index`; j == 0 is
        the call that trains it."""
        from bioio_spark.functions import similarity

        q = self.queries[(97 * index + j) % len(self.queries)]
        name = "functions.ivf_train" if j == 0 else \
            "functions.ivf_query_build"
        t0 = _clock()
        with ctx.tr.span(name, "build"):
            df = similarity.ivf_topk(self.emb, query_vec_id=q, k=10,
                                     cache_key=("perfbench", index))
        with ctx.tr.span("functions.ivf_query_exec", "exec"):
            rows = df.collect()
        dt = _clock() - t0
        sims = self.unit @ self.unit[q]
        sims[q] = -np.inf
        exact = set(np.argsort(-sims, kind="stable")[:10].tolist())
        got = [r["cosine_sim"] for r in rows]
        recall = len(exact.intersection(int(r["vec_id"]) for r in rows)) / 10
        # exact per query: ten rows, true cosines, best first; recall is an
        # approximation property, guarded over the run in check_recall
        ok = (len(rows) == 10 and got == sorted(got, reverse=True)
              and all(r["vec_id"] != q
                      and abs(r["cosine_sim"] - sims[r["vec_id"]]) < 1e-6
                      for r in rows))
        return ok, {("ann_build_s" if j == 0 else "ann_query_s"): dt,
                    "ann_recall": recall}

    def check_recall(self, ctx):
        """Run-level guard: mean recall@10 of the run's queries against
        exact cosine stays at or above RECALL_FLOOR."""
        return mean(ctx.samples.get("ann_recall")) >= self.RECALL_FLOOR, {}

    def warmup(self, ctx) -> None:
        # read once and held, as a user holds it; the IVF memo is keyed by
        # cache_key, so every new key still trains
        self.emb = ctx.spark.read.parquet(self.emb_path)
        ctx.op("warmup.ann_build", self.ann, -1, 0)
        for j in (1, 2, 3):
            ctx.op(f"warmup.ann_query[{j}]", self.ann, -1, j)

    def schedule(self):
        # steady queries against the index the warm-up trained
        for j in itertools.count(4):
            yield f"ann_query[{j}]", self.ann, (-1, j)

    def batch(self):
        # a second index trained (about 2.5 s on a 4-core host), then the
        # session's first curation pass, as a user runs it once (about 8.5 s)
        return [("ann_build[0]", self.ann, (0, 0)),
                ("curate[0]", self.curate, (0,))]

    def finish(self, ctx) -> None:
        ctx.op("check.ann_recall", self.check_recall)

    def probes(self, ctx) -> None:
        pass

    def end_to_end(self, ctx) -> dict:
        return {"op_p50_s": median(ctx.samples.get("ann_query_s")),
                "op_cpu_s": median(ctx.samples.get("cpu_s.ann_query"))}

    def named(self, ctx) -> dict:
        s = ctx.samples
        passes, builds = s.get("curate_s", []), s.get("ann_build_s", [])
        nbytes = ([self.text_bytes] * len(passes)
                  + [self.emb_bytes] * len(builds))
        batch_cpu = s.get("cpu_s.curate", []) + s.get("cpu_s.ann_build", [])
        return {"throughput_mb_s": rate(nbytes, passes + builds),
                "cpu_s_per_mb": sum(batch_cpu) * MB / max(sum(nbytes), 1),
                "curate_docs_per_s": (len(s.get("curate_s", [])) * self.n_docs
                                      / max(sum(s.get("curate_s", [])),
                                            1e-9)),
                "curate_passes": len(s.get("curate_s", [])),
                "ann_build_s": median(s.get("ann_build_s")),
                "ann_query_p50_s": median(s.get("ann_query_s")),
                "ann_queries": len(s.get("ann_query_s", []))}

    def layers(self, ctx) -> dict:
        s = ctx.samples
        builds = {sp.name for sp in ctx.tr.spans if sp.phase == "build"
                  and sp.name.startswith("functions.")}
        passes = max(len(s.get("curate_s", [])), 1)
        out = {f"functions.{k}_s": median(ctx.span_times(f"functions.{k}"))
               for k in ("quality_build", "quality_exec", "minhash_build",
                         "minhash_exec", "clusters_build", "clusters_exec",
                         "ivf_train", "ivf_query_build", "ivf_query_exec")}
        out.update({
            "functions.pairs_per_doc": mean(s.get("pairs_per_doc")),
            "functions.planted_dup_recall": mean(s.get("planted_recall")),
            "functions.eager_jobs_in_build":
                engine_under(ctx, builds)["jobs"] / passes,
            "functions.ann_recall_at_10": mean(s.get("ann_recall")),
        })
        return out


# ---------------------------------------------------------------------------
# shared helpers

def formats_probe(ctx, tiff_paths: list, blocks: list) -> None:
    """In-driver codec rates on the fixture bytes: TIFF decode, and Zarr
    chunk encode/decode of the fixture planes in 128x128 chunks."""
    from bioio_spark.formats.tiff import decode_tiff
    from bioio_spark.formats.zarr import decode_chunk, encode_chunk

    for path in tiff_paths:
        with open(path, "rb") as f:
            data = f.read()
        with ctx.tr.span("formats.tiff_decode"):
            t0 = _clock()
            planes, _ = decode_tiff(data)
            dt = _clock() - t0
        ctx.add("tiff_decode_mb_s", sum(p.nbytes for p in planes) / MB / dt)
    chunks = [b[t, c, z, y:y + 128, x:x + 128].copy()
              for b in blocks for t, c, z in np.ndindex(b.shape[:3])
              for y in range(0, b.shape[3], 128)
              for x in range(0, b.shape[4], 128)]
    nbytes = sum(c.nbytes for c in chunks) / MB
    with ctx.tr.span("formats.zarr_encode"):
        t0 = _clock()
        enc = [encode_chunk(c) for c in chunks]
        ctx.add("zarr_encode_mb_s", nbytes / (_clock() - t0))
    with ctx.tr.span("formats.zarr_decode"):
        t0 = _clock()
        for c, e in zip(chunks, enc):
            decode_chunk(e, c.dtype, c.shape)
        ctx.add("zarr_decode_mb_s", nbytes / (_clock() - t0))


def engine_under(ctx, names: set) -> dict:
    """Engine totals of the timed spans named in `names` (and their
    children)."""
    from perfbench.trace import rollup

    roots = {s.sid for s in ctx.tr.spans
             if s.name in names and s.op is not None}
    return rollup(ctx.tr.spans, ctx.tr.by_id(), ctx.engine, roots)


WORKLOADS = {w.name: w for w in (ImageIO, LlmCurate)}
