"""Per-layer probes for the traced run, all measured from outside the
engine.

Spark layers are timed by running an action on each plan prefix
(manifest alone, identity ``mapInArrow``, the fused pass, the pass plus
a sink). In-process layers are timed with ``process_time`` by calling
each module's public functions over the workload's own inputs. Layers a
workload does not exercise are probed on a small companion input made
by the generator of the workload that does, from the same seed, so that
every traced run reports every layer (see README.md for the map). The
curate stages, which no workload runs, are always probed on the
companion curation corpus.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import time

from perfbench import host
from perfbench.workloads import CurateCorpus, ExtractScanned, ExtractText, part_file_bytes

#: generator sizes of the companion inputs
COMPANION = {
    "extract_text": dict(docs=24, pages=120, corrupt=1, real_copies=0),
    "extract_scanned": dict(docs=12),
    "curate_corpus": dict(docs=300),
}
#: at most this many documents feed the in-process probes
SAMPLE_DOCS = 12


def _wall(fn, reps: int) -> float:
    """Median wall seconds of ``reps`` calls."""
    samples = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _own_or_companion(wl, cls, work: str, seed: int):
    if isinstance(wl, cls):
        return wl
    other = cls(**COMPANION[cls.name])
    other.prepare(os.path.join(work, "companion-" + cls.name), seed)
    return other


def probe(spark, wl, seed: int, work: str, tracer, cores: int) -> dict:
    """Every per-layer metric as ``name -> (value, unit)``."""
    out: dict = {}
    with tracer.span("layer.session"):
        out["session.jvm_job_floor_s"] = (_wall(lambda: _noop(spark.range(1000)), 5), "s")
    ext = wl if isinstance(wl, ExtractScanned) else _own_or_companion(wl, ExtractText, work, seed)
    scan = _own_or_companion(wl, ExtractScanned, work, seed)
    cur = _own_or_companion(wl, CurateCorpus, work, seed)
    with tracer.span("layer.extraction"):
        out.update(_extraction(spark, ext, work, cores, tracer))
    with tracer.span("layer.minipdf"):
        out.update(_minipdf(ext))
    with tracer.span("layer.decoders"):
        out.update(_decoders(scan))
    with tracer.span("layer.curate"):
        _curate(spark, cur, work, tracer)  # warm the JVM paths first
        out.update(_curate(spark, cur, work, tracer))
    return out


def _docs_of(ext) -> dict[str, bytes]:
    """(name -> bytes) of an extraction workload's inputs."""
    if isinstance(ext, ExtractScanned):
        return ext.docs
    return ext.data["files"]


def _sample(ext) -> list[bytes]:
    """Up to SAMPLE_DOCS well-formed documents, in name order."""
    bad = set(ext.data.get("corrupt", ()))
    docs = _docs_of(ext)
    return [docs[k] for k in sorted(docs) if k not in bad][:SAMPLE_DOCS]


def _extraction(spark, ext, work: str, cores: int, tracer) -> dict:
    from pdf2dataset_spark.operators.features import PageContext, resolve_features

    pipe = ext.pipeline(spark)
    src = ext.docs if isinstance(ext, ExtractScanned) else ext.src
    out: dict = {}
    mf = pipe.manifest(src)
    with tracer.span("features.warmup"):
        _noop(pipe.pages(src))  # Python workers up before any timing
    with tracer.span("sources.manifest"):
        out["sources.manifest_s"] = (_wall(lambda: _noop(pipe.manifest(src)), 2), "s")
    out["sources.manifest_partitions"] = (mf.rdd.getNumPartitions(), "count")
    out["sources.manifest_bytes"] = (ext.in_bytes, "bytes")

    def identity(batches):
        yield from batches

    with tracer.span("features.boundary_floor"):
        out["features.boundary_floor_s"] = (
            _wall(lambda: _noop(pipe.manifest(src).mapInArrow(identity, mf.schema)), 2), "s")
    group = "perfbench-pass"
    sc = spark.sparkContext
    with tracer.span("features.pass"):
        sc.setJobGroup(group, "fused pass to noop")
        pass_s = _wall(lambda: _noop(pipe.pages(src)), 2)
        sc.setLocalProperty("spark.jobGroup.id", None)
    counters = host.spark_counters(spark, group)
    out["features.pass_s"] = (pass_s, "s")
    out["features.tasks"] = (counters["tasks"] / 2, "count")
    out["features.task_max_s"] = (counters["task_max_ms"] / 1000, "s")

    sink_dir = os.path.join(work, "probe-sink")
    runs = itertools.count()

    def sink():
        pipe.run(src, out_path=os.path.join(sink_dir, str(next(runs))))

    with tracer.span("io.sink"):
        out["io.sink_s"] = (_wall(sink, 2) - pass_s, "s")
    nbytes, nfiles = part_file_bytes(os.path.join(sink_dir, "0"))
    shutil.rmtree(sink_dir, ignore_errors=True)
    out["io.bytes_written"] = (nbytes, "bytes")
    out["io.files_written"] = (nfiles, "count")
    with tracer.span("extraction.collect"):
        out["extraction.collect_s"] = (_wall(lambda: pipe.run(src, small=True), 2) - pass_s, "s")

    # in-process: codec open and every probed feature over a sample
    codec = pipe.codec
    sample = _sample(ext)
    handles, open_s = [], 0.0
    for data in sample:
        t0 = time.process_time()
        handles.append(codec.open(data))
        open_s += time.process_time() - t0
    open_ms = 1000 * open_s / len(sample)
    out["codecs.open_ms_per_doc"] = (open_ms, "ms")
    names = ["text", "n_images", "embedded_image_meta", "image"]
    pages = [(h, p) for h in handles for p in range(1, codec.page_count(h) + 1)][:48]
    feat_ms = {}
    for f in resolve_features(names):
        t0 = time.process_time()
        for h, p in pages:
            f.fn(PageContext(path="probe", page=p, codec=codec, handle=h))
        feat_ms[f.name] = 1000 * (time.process_time() - t0) / len(pages)
        out[f"features.{f.name}_ms_per_page"] = (feat_ms[f.name], "ms")
    # what the pass costs beyond the boundary floor and the in-process
    # work of the workload's own features spread over the cores; near 0
    # when the breakdown accounts for the pass
    n_docs = len(_docs_of(ext))
    n_pages = _page_total(ext)
    cpu_s = (open_ms * n_docs + sum(feat_ms[f] for f in pipe.features) * n_pages) / 1000
    out["features.unattributed_s"] = (
        pass_s - out["features.boundary_floor_s"][0] - cpu_s / cores, "s")
    return out


def _page_total(ext) -> int:
    if isinstance(ext, ExtractScanned):
        return len(ext.docs)
    from pdf2dataset_spark.sources.minipdf import PdfDocument

    real = sum(len(PdfDocument(ext.data["files"][rel]).pages()) for rel in ext.data["real"])
    return sum(len(p) for p in ext.data["tokens"].values()) + real


def _minipdf(ext) -> dict:
    from pdf2dataset_spark.sources import minipdf

    parse_s = layout_s = order_s = 0.0
    n_pages = content_bytes = 0
    sample = _sample(ext)
    for data in sample:
        t0 = time.process_time()
        doc = minipdf.PdfDocument(data)
        pages = doc.pages()
        parse_s += time.process_time() - t0
        for p in pages:
            content = doc.page_content(p)
            fonts, forms = doc.page_fonts(p), doc.page_forms(p)
            gs, props = doc.page_ext_gstates(p), doc.page_properties(p)
            rot, box = minipdf.page_rotation(doc, p), minipdf.page_media_box(doc, p)
            t0 = time.process_time()
            minipdf.content_text_layout(content, fonts=fonts, rotate=rot, media_box=box,
                                        forms=forms, ext_gstates=gs, props=props)
            t1 = time.process_time()
            minipdf.content_text(content, fonts=fonts, forms=forms, ext_gstates=gs, props=props)
            t2 = time.process_time()
            layout_s += t1 - t0
            order_s += t2 - t1
            n_pages += 1
            content_bytes += len(content)
    return {
        "minipdf.parse_ms_per_doc": (1000 * parse_s / len(sample), "ms"),
        "minipdf.layout_ms_per_page": (1000 * layout_s / n_pages, "ms"),
        "minipdf.stream_order_ms_per_page": (1000 * order_s / n_pages, "ms"),
        "minipdf.content_bytes_per_page": (content_bytes / n_pages, "bytes"),
    }


def _decoders(scan) -> dict:
    from pdf2dataset_spark.sources import ccitt, jbig2, jpeg, jpx, raster

    decode = {
        "jpeg": lambda im: jpeg.decode_jpeg(im["data"]),
        "ccitt": lambda im: ccitt.decode_g4(im["data"], im["width"], im["height"]),
        "jbig2": lambda im: jbig2.decode_embedded(im["data"]),
        "jpx": lambda im: jpx.decode_jpx(im["data"]),
    }
    cost = {k: [0.0, 0.0] for k in decode}
    png_s = 0.0
    images = [scan.data["images"][k] for k in sorted(scan.data["images"])]
    for im in images:
        t0 = time.process_time()
        decode[im["kind"]](im)
        t1 = time.process_time()
        raster.encode_png(im["width"], im["height"], im["pixels"])
        t2 = time.process_time()
        cost[im["kind"]][0] += t1 - t0
        cost[im["kind"]][1] += im["width"] * im["height"] / 1e6
        png_s += t2 - t1
    out = {f"{k}.ms_per_mpx": (1000 * s / mpx, "ms") for k, (s, mpx) in cost.items()}
    out["raster.png_ms_per_page"] = (1000 * png_s / len(images), "ms")
    return out


def _curate(spark, cur, work: str, tracer) -> dict:
    """``curate.curate``'s stages rebuilt from the same public operators
    with the same defaults, each forced with persist and count."""
    from pyspark.sql import functions as F

    from pdf2dataset_spark.curate import split_hash
    from pdf2dataset_spark.operators import cluster as cl
    from pdf2dataset_spark.operators import dedup as dd
    from pdf2dataset_spark.operators import shards as sh
    from pdf2dataset_spark.operators import text as tx

    cached = []

    def force(name: str, df):
        with tracer.span(name):
            t0 = time.perf_counter()
            df = df.persist()
            cached.append(df)
            n = df.count()
            return df, n, time.perf_counter() - t0

    out: dict = {}
    df = spark.read.parquet(cur.src)
    gates = tx.quality_filter(df, "text", min_tokens=5, max_tokens=100_000)
    rep = tx.repetition_stats(gates, "text", "doc_id").select("doc_id", "dup_bigram_frac")
    gates = gates.join(rep, "doc_id", "left").filter(
        F.coalesce(F.col("dup_bigram_frac"), F.lit(0.0)) <= 0.5).drop("dup_bigram_frac")
    gates, _, out["text.gates_s"] = force("text.gates", gates)
    exact, _, out["dedup.exact_s"] = force("dedup.exact", dd.exact_dedup(
        gates, "text", order_col="doc_id", keep_hash=False, strategy="join"))
    sig = exact.select(
        F.col("doc_id"),
        dd.minhash_signature(dd.shingles("text", n=3)).alias("minhash"),
        dd.shingles("text", n=3).alias("__sh"),
    )
    pairs, n_cand, out["dedup.lsh_s"] = force(
        "dedup.lsh", dd.lsh_candidate_pairs(sig, id_col="doc_id", max_bucket=64))
    verified, n_ver, out["dedup.verify_s"] = force("dedup.verify", dd.jaccard_pairs(
        sig, id_col="doc_id", set_col="__sh", threshold=0.8, candidates=pairs
    ).select("id1", "id2"))
    kept, _, out["cluster.components_s"] = force(
        "cluster.components", cl.dedup_by_components(exact, verified, id_col="doc_id"))
    final = kept.withColumn(
        "split", F.when(split_hash("doc_id") < 0.9, "train").otherwise("test")
    ).withColumn("shard_id", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(16)))
    dest = os.path.join(work, "probe-shards")
    with tracer.span("shards.write"):
        t0 = time.perf_counter()
        sh.write_shards(final, dest, shard_col="shard_id", id_col="doc_id",
                        token_col="q_n_tokens")
        out["shards.write_s"] = time.perf_counter() - t0
    out["shards.bytes_written"] = part_file_bytes(dest)[0]
    shutil.rmtree(dest, ignore_errors=True)
    for d in cached:
        d.unpersist()
    out["dedup.candidate_pairs"] = n_cand
    out["dedup.verified_pairs"] = n_ver
    out["dedup.lsh_precision"] = n_ver / max(n_cand, 1)
    units = {"_s": "s", "bytes_written": "bytes", "pairs": "count", "precision": "ratio"}
    return {k: (v, next(u for suf, u in units.items() if k.endswith(suf)))
            for k, v in out.items()}
