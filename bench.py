#!/usr/bin/env python
"""bench.py — flagship extraction throughput + scaling efficiency.

Measures docs/sec and MB/s of raw HTML bytes for the end-to-end extraction
pipeline (tokenize -> content selection -> rollup -> classify) over a
deterministic page corpus synthesized from $SPARK_GRAFT_SF_DIR/documents
(default /root/testdata/sf0.1), replicated REPLICAS x for volume.

Scaling methodology (north rule: N vs 4N cluster sizes, >=0.8 efficiency):
each parallelism level runs in its own JVM pinned with `taskset -c` to
EXACTLY that many host CPUs, so the JVM task threads AND the Python UDF
workers share the same N cores — exactly like an N-core executor under
cgroup limits.  (Without pinning, Python workers run beside the N task
threads and a "4-core" run really consumes ~8 cores, corrupting the ratio.)
The sandbox shares its host with other tenants (loadavg 10-25 external), so
each scaling-ratio sample is measured over ONE shared wall-clock window
(one lo pass co-running with HI/LO back-to-back hi passes on disjoint
cores); efficiency is the median of per-window ratios, throughput the best
pass per level.

Prints ONE JSON line:
  {"metric": ..., "value": <sec>, "unit": "sec", "queries": {...}, "sf": ...,
   "docs_per_sec": ..., "mb_per_sec": ..., "scaling_efficiency": ...}
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
LO = int(os.environ.get("SPARK_GRAFT_BENCH_LO", "4"))
HI = int(os.environ.get("SPARK_GRAFT_BENCH_HI", "16"))
REPLICAS = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICAS", "120"))
BUDGET_S = int(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_S", "240"))
CACHE_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench")


def _sf_tag() -> str:
    return SF_DIR.rstrip("/").split("/")[-1]


# bump when generate_pages output bytes change (r3: Flate-compressed PDFs)
CORPUS_REV = "r3"


def pages_path(replicas: int = REPLICAS) -> str:
    return os.path.join(CACHE_ROOT, f"pages_{_sf_tag()}_{CORPUS_REV}_x{replicas}")


def prepare_pages(replicas: int = REPLICAS) -> dict:
    """Synthesize + persist the page corpus once (outside timed runs),
    mirroring the real deployment where pages already sit in a table."""
    path = pages_path(replicas)
    meta_path = path + ".meta.json"
    if not os.path.exists(meta_path):
        from image_ocr_spark.operators.generate import generate_pages
        from image_ocr_spark.session import get_spark
        from pyspark.sql import functions as F

        spark = get_spark("local[*]", app_name="bench-prep", shuffle_partitions=32)
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        pages = generate_pages(docs, replicas=replicas)
        # written partitioned like a crawl: salted by url hash
        pages.repartition(64, F.xxhash64("url")).write.mode("overwrite").parquet(path)
        stats = (
            spark.read.parquet(path)
            .agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum(F.octet_length("html")).alias("bytes"),
            )
            .first()
        )
        spark.stop()
        with open(meta_path, "w") as fh:
            json.dump({"docs": stats["docs"], "bytes": int(stats["bytes"])}, fh)
    with open(meta_path) as fh:
        return json.load(fh)


def worker(threads: int, path: str, skew: bool = False) -> None:
    """Pinned-JVM pass server: warm up, then run one timed pass per 'go'
    line on stdin (lets the coordinator interleave lo/hi passes back-to-back
    so each compared pair samples the SAME external-noise window).

    In skew mode ('go:nosalt' lines) the pass bypasses salt_repartition and
    the session treats input files as non-splittable (maxPartitionBytes
    = 4g — the .warc.gz reality of crawl shards), so the hot-host file's
    tokenize work lands on one task."""
    from image_ocr_spark.plans.pipeline import extract_pages
    from image_ocr_spark.session import get_spark
    from pyspark.sql import functions as F

    extra = {"spark.driver.memory": "12g",
             "spark.driver.extraJavaOptions": "-Xms12g -XX:+UseG1GC"}
    if skew:
        extra["spark.sql.files.maxPartitionBytes"] = "4294967296"
    spark = get_spark(
        f"local[{threads}]",
        app_name=f"bench-{threads}",
        shuffle_partitions=threads,
        extra_conf=extra,
    )
    pages = spark.read.parquet(path)

    def one_pass(salt: bool = True) -> float:
        # fresh DataFrame per pass: re-collecting one plan would silently
        # reuse its shuffle outputs and skip the heavy stages.  Catalyst
        # planning is forced BEFORE the clock starts: on a real cluster the
        # driver is a separate unpinned machine, so planning must not be
        # charged against the pinned "executor" cores (it dominated the
        # small-N serial share otherwise).  AQE runtime re-optimization
        # still happens inside the timed window.
        df = extract_pages(
            pages, num_partitions=threads * 2, salt=salt
        ).agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.length("text")).alias("chars"),
        )
        df._jdf.queryExecution().executedPlan()
        t0 = time.time()
        df.collect()
        return time.time() - t0

    one_pass()  # warm: JIT + codegen + python workers + page cache
    print(json.dumps({"ready": True}), flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd not in ("go", "go:nosalt"):
            break
        print(json.dumps({"t": one_pass(salt=(cmd == "go"))}), flush=True)
    spark.stop()


def pairs_worker(threads: int, sf_dir: str) -> None:
    """Pinned-JVM pass server for the SHUFFLE-HEAVY pair path: one
    minhash_lsh_pairs count over the variant-injected sf corpus per 'go'
    (band-key shuffle + distinct — the scaling story the tokenizer's
    embarrassingly-parallel scan can't show)."""
    from pyspark.sql import functions as F

    from image_ocr_spark.operators.dedup import minhash_lsh_pairs, with_variants
    from image_ocr_spark.session import get_spark

    extra = {"spark.driver.memory": "12g",
             "spark.driver.extraJavaOptions": "-Xms12g -XX:+UseG1GC"}
    spark = get_spark(
        f"local[{threads}]",
        app_name=f"bench-pairs-{threads}",
        shuffle_partitions=threads * 2,
        extra_conf=extra,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # replicate so per-pass work dwarfs fixed job overhead (a 1.5 s job
    # measures scheduling latency, not scaling)
    replicas = int(os.environ.get("SPARK_GRAFT_PAIRS_REPLICAS", "24"))
    reps = spark.range(replicas).select(F.col("id").alias("_r"))
    big = docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
        F.concat(F.coalesce(F.col("text"), F.lit("")),
                 F.lit(" r"), F.col("_r").cast("string")).alias("text"),
    )
    corpus = with_variants(big).repartition(threads * 2).persist()
    corpus.count()

    def one_pass() -> float:
        t0 = time.time()
        minhash_lsh_pairs(corpus).count()
        return time.time() - t0

    one_pass()  # warm
    print(json.dumps({"ready": True}), flush=True)
    for line in sys.stdin:
        if line.strip() != "go":
            break
        print(json.dumps({"t": one_pass()}), flush=True)
    spark.stop()


def warc_chunks_path() -> str:
    return os.path.join(CACHE_ROOT, f"warc_{_sf_tag()}_{CORPUS_REV}_x{REPLICAS}")


def prepare_warc_chunks() -> dict:
    """Serialize the cached page corpus into `.warc.gz` chunk rows once
    (outside timed runs) — the bench analog of a crawl's segment pile.
    4 MiB payload chunks keep task granularity realistic for a corpus
    this small (at 100 TB a segment is ~1 GB and there are ~10^5 of
    them; here ~150 chunks give 16 threads real parallelism)."""
    path = warc_chunks_path()
    meta_path = path + ".meta.json"
    if not os.path.exists(meta_path):
        from pyspark.sql import functions as F

        from image_ocr_spark.operators.warcsource import pages_to_warc
        from image_ocr_spark.session import get_spark

        prepare_pages()
        spark = get_spark("local[*]", app_name="bench-warc-prep",
                          shuffle_partitions=32)
        pages = spark.read.parquet(pages_path())
        chunks = pages_to_warc(pages, max_chunk_bytes=4 << 20)
        chunks.write.mode("overwrite").parquet(path)
        stats = (
            spark.read.parquet(path)
            .agg(
                F.sum("n_records").alias("records"),
                F.sum(F.octet_length("chunk")).alias("gz_bytes"),
                F.count(F.lit(1)).alias("chunks"),
            )
            .first()
        )
        spark.stop()
        with open(meta_path, "w") as fh:
            json.dump({"records": int(stats["records"]),
                       "gz_bytes": int(stats["gz_bytes"]),
                       "chunks": int(stats["chunks"])}, fh)
    with open(meta_path) as fh:
        return json.load(fh)


def warc_worker(threads: int, path: str) -> None:
    """Pinned-JVM pass server for the INGEST path: one full read_warc
    parse (gunzip members + WARC/HTTP framing) over the chunk parquet
    per 'go', reduced to count + payload bytes so every record is
    materialized through the Arrow boundary."""
    from pyspark.sql import functions as F

    from image_ocr_spark.operators.warcsource import read_warc
    from image_ocr_spark.session import get_spark

    extra = {"spark.driver.memory": "12g",
             "spark.driver.extraJavaOptions": "-Xms12g -XX:+UseG1GC"}
    spark = get_spark(
        f"local[{threads}]",
        app_name=f"bench-warc-{threads}",
        shuffle_partitions=threads,
        extra_conf=extra,
    )
    chunks = spark.read.parquet(path)

    def one_pass() -> float:
        df = read_warc(chunks).agg(
            F.count(F.lit(1)).alias("records"),
            F.sum(F.octet_length("payload")).alias("payload_bytes"),
        )
        df._jdf.queryExecution().executedPlan()
        t0 = time.time()
        df.collect()
        return time.time() - t0

    one_pass()  # warm: JIT + python workers + page cache
    print(json.dumps({"ready": True}), flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd != "go":
            break
        print(json.dumps({"t": one_pass()}), flush=True)
    spark.stop()


def warc_scaling_main() -> None:
    """N-vs-4N scaling for WARC ingest (the north rule's boundary job) —
    same disjoint-pinned-core, coinciding-window methodology as the
    flagship; reports parsed-payload MB/s at HI plus efficiency."""
    os.makedirs(CACHE_ROOT, exist_ok=True)
    meta = prepare_warc_chunks()
    pmeta = prepare_pages()
    ncpu = os.cpu_count() or 1
    if ncpu >= LO + HI:
        lo_cores, hi_cores = f"0-{LO - 1}", f"{LO}-{LO + HI - 1}"
    else:
        lo_cores = f"0-{min(LO, ncpu) - 1}"
        hi_cores = f"0-{min(HI, ncpu) - 1}"
    path = warc_chunks_path()
    lo_w = PinnedWorker(LO, lo_cores, path, mode="--warc-worker")
    hi_w = PinnedWorker(HI, hi_cores, path, mode="--warc-worker")
    lo_w.wait_ready()
    hi_w.wait_ready()
    ratio = max(1, HI // LO)
    best = {LO: float("inf"), HI: float("inf")}
    effs = []
    for _ in range(4):
        lo_w.go()
        his = [hi_w.ask() for _ in range(ratio)]
        t_lo = lo_w.read_t()
        t_hi = min(his)
        best[LO] = min(best[LO], t_lo)
        best[HI] = min(best[HI], t_hi)
        effs.append((t_lo / t_hi) / ratio)
    lo_w.close()
    hi_w.close()
    effs.sort()
    mb = pmeta["bytes"] / 1e6
    print(json.dumps({
        "metric": f"warc_ingest_scaling_{_sf_tag()}",
        "unit": "sec",
        "lo_cpus": LO,
        "hi_cpus": HI,
        "lo_s": round(best[LO], 3),
        "hi_s": round(best[HI], 3),
        "records": meta["records"],
        "gz_mb": round(meta["gz_bytes"] / 1e6, 1),
        "payload_mb": round(mb, 1),
        "mb_per_sec_hi": round(mb / best[HI], 2),
        "records_per_sec_hi": round(meta["records"] / best[HI], 1),
        "scaling_efficiency": round(effs[len(effs) // 2], 3),
        "scaling_samples": [round(e, 3) for e in effs],
    }))


def frontier_worker(threads: int, path: str) -> None:
    """Times one robots-gate pass over the page corpus's urls: synthesize
    a deterministic 1,000-host robots table (rule mixes with wildcards and
    anchors), parse once (host-sized Arrow), then apply_robots over the
    URL column — the URL-sized work is the JVM LIKE/array path the
    operator claims is scan-stage."""
    from pyspark.sql import functions as F

    from image_ocr_spark.operators.robotsfrontier import (
        apply_robots,
        robots_rules,
    )
    from image_ocr_spark.session import get_spark

    extra = {"spark.driver.memory": "12g",
             "spark.driver.extraJavaOptions": "-Xms12g -XX:+UseG1GC"}
    spark = get_spark(
        f"local[{threads}]",
        app_name=f"bench-frontier-{threads}",
        shuffle_partitions=threads,
        extra_conf=extra,
    )
    n_hosts = 1000
    txt = (
        "User-agent: trainbot\n"
        "Disallow: /private/\n"
        "Allow: /private/public*\n"
        "Disallow: /*.tmp$\n"
        "Disallow: /cgi-bin/\n"
        "Allow: /cgi-bin/ok*\n"
        "Disallow: /*session=*\n"
        "User-agent: *\nDisallow: /\n"
    )
    robots = spark.range(n_hosts).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example")).alias("host"),
        F.when(F.col("id") % 17 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit(txt))
        .alias("robots_txt"),
    )
    rules = robots_rules(robots, agent="trainbot/1.0").persist()
    rules.count()
    pages = spark.read.parquet(path)
    urls = pages.select(
        F.col("url"),
        F.concat(
            F.lit("h"),
            F.abs(F.hash("url")) % n_hosts,
            F.lit(".example"),
        ).alias("host"),
        # remap each url's path onto the rule branches deterministically
        F.element_at(
            F.array(
                F.lit("/private/x"),
                F.concat(F.lit("/private/public"), F.abs(F.hash("url"))),
                F.concat(F.lit("/f"), F.abs(F.hash("url")), F.lit(".tmp")),
                F.lit("/cgi-bin/run"),
                F.lit("/cgi-bin/ok1"),
                F.concat(F.lit("/p?session="), F.abs(F.hash("url"))),
                F.concat(F.lit("/ok/"), F.abs(F.hash("url"))),
                F.lit("/"),
            ),
            (F.abs(F.hash("url")) % 8 + 1).cast("int"),
        ).alias("path"),
    ).select(
        "host",
        F.concat(F.lit("http://"), F.col("host"), F.col("path")).alias("url"),
    )

    def one_pass() -> float:
        df = apply_robots(urls, rules).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("robots_allowed").cast("long")).alias("allowed"),
        )
        df._jdf.queryExecution().executedPlan()
        t0 = time.time()
        df.collect()
        return time.time() - t0

    one_pass()
    print(json.dumps({"ready": True}), flush=True)
    for line in sys.stdin:
        if line.strip() != "go":
            break
        print(json.dumps({"t": one_pass()}), flush=True)
    spark.stop()


def frontier_scaling_main() -> None:
    """N-vs-4N scaling for the robots gate over 600k urls (the frontier
    family's URL-sized hot path) — same disjoint-pinned-core
    coinciding-window methodology as the flagship."""
    os.makedirs(CACHE_ROOT, exist_ok=True)
    meta = prepare_pages()
    ncpu = os.cpu_count() or 1
    if ncpu >= LO + HI:
        lo_cores, hi_cores = f"0-{LO - 1}", f"{LO}-{LO + HI - 1}"
    else:
        lo_cores = f"0-{min(LO, ncpu) - 1}"
        hi_cores = f"0-{min(HI, ncpu) - 1}"
    path = pages_path()
    lo_w = PinnedWorker(LO, lo_cores, path, mode="--frontier-worker")
    hi_w = PinnedWorker(HI, hi_cores, path, mode="--frontier-worker")
    lo_w.wait_ready()
    hi_w.wait_ready()
    ratio = max(1, HI // LO)
    best = {LO: float("inf"), HI: float("inf")}
    effs = []
    for _ in range(4):
        lo_w.go()
        his = [hi_w.ask() for _ in range(ratio)]
        t_lo = lo_w.read_t()
        t_hi = min(his)
        best[LO] = min(best[LO], t_lo)
        best[HI] = min(best[HI], t_hi)
        effs.append((t_lo / t_hi) / ratio)
    lo_w.close()
    hi_w.close()
    effs.sort()
    n = meta["docs"]
    print(json.dumps({
        "metric": f"frontier_robots_gate_scaling_{_sf_tag()}",
        "unit": "sec",
        "lo_cpus": LO,
        "hi_cpus": HI,
        "lo_s": round(best[LO], 3),
        "hi_s": round(best[HI], 3),
        "urls": n,
        "urls_per_sec_hi": round(n / best[HI], 1),
        "scaling_efficiency": round(effs[len(effs) // 2], 3),
        "scaling_samples": [round(e, 3) for e in effs],
    }))


class PinnedWorker:
    """Pinned subprocess running `worker`; one timed pass per ask()."""

    def __init__(self, threads: int, cores: str, path: str, skew: bool = False,
                 mode: str = "--worker"):
        tag = cores.replace("-", "_")
        self.errlog = os.path.join(CACHE_ROOT, f"worker-{threads}-{tag}.stderr")
        self._errfh = open(self.errlog, "w")
        argv = ["taskset", "-c", cores, sys.executable,
                os.path.abspath(__file__), mode, str(threads), path]
        if skew:
            argv.append("--skew")
        self.p = subprocess.Popen(
            argv,
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self._errfh, text=True, bufsize=1,
        )

    def _read_json(self, key: str) -> dict:
        while True:
            line = self.p.stdout.readline()
            if not line:
                tail = ""
                try:
                    with open(self.errlog) as fh:
                        tail = fh.read()[-2000:]
                except OSError:
                    pass
                raise RuntimeError(f"bench worker died; stderr tail:\n{tail}")
            line = line.strip()
            if line.startswith("{") and f'"{key}"' in line:
                return json.loads(line)

    def wait_ready(self) -> None:
        self._read_json("ready")

    def go(self, cmd: str = "go") -> None:
        self.p.stdin.write(cmd + "\n")
        self.p.stdin.flush()

    def read_t(self) -> float:
        return float(self._read_json("t")["t"])

    def ask(self, cmd: str = "go") -> float:
        self.go(cmd)
        return self.read_t()

    def close(self) -> None:
        try:
            self.p.stdin.close()
            self.p.wait(timeout=30)
        except Exception:
            self.p.kill()
        finally:
            self._errfh.close()


def prepare_skewed_pages(replicas: int) -> tuple:
    """Crawl-order layout: pages clustered into files BY HOST (the way a
    crawl actually lands), so the hot host (~30% of urls,
    fixtures/gen_pages.HOT_HOST) sits in one fat file.  With non-splittable
    inputs (see worker skew mode) that file is one task — the skew the
    salted repartition exists to defuse."""
    path = os.path.join(CACHE_ROOT, f"pages_skew_{_sf_tag()}_{CORPUS_REV}_x{replicas}")
    if not os.path.exists(path + ".meta.json"):
        from image_ocr_spark.operators.generate import generate_pages
        from image_ocr_spark.session import get_spark
        from pyspark.sql import functions as F

        spark = get_spark("local[*]", app_name="bench-skew-prep", shuffle_partitions=32)
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        pages = generate_pages(docs, replicas=replicas).withColumn(
            "host", F.parse_url("url", F.lit("HOST"))
        )
        pages.repartition(24, "host").drop("host").write.mode("overwrite").parquet(path)
        stats = spark.read.parquet(path).agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.octet_length("html")).alias("bytes"),
        ).first()
        spark.stop()
        with open(path + ".meta.json", "w") as fh:
            json.dump({"docs": stats["docs"], "bytes": int(stats["bytes"])}, fh)
    with open(path + ".meta.json") as fh:
        meta = json.load(fh)
    return path, meta


def skew_main() -> None:
    """Salted-vs-unsalted evidence for the north rule's skew story: same
    corpus, same pinned cores, non-splittable host-clustered input files;
    passes alternate salted/unsalted so both sample the same noise window."""
    os.makedirs(CACHE_ROOT, exist_ok=True)
    replicas = int(os.environ.get("SPARK_GRAFT_SKEW_REPLICAS", "40"))
    path, meta = prepare_skewed_pages(replicas)
    ncpu = os.cpu_count() or 1
    cores = f"0-{min(HI, ncpu) - 1}"
    w = PinnedWorker(HI, cores, path, skew=True)
    w.wait_ready()
    salted, unsalted = [], []
    for _ in range(3):
        salted.append(w.ask("go"))
        unsalted.append(w.ask("go:nosalt"))
    w.close()
    s, u = min(salted), min(unsalted)
    docs = meta["docs"]
    print(json.dumps({
        "metric": f"skew_demo_{_sf_tag()}_pinned{HI}cpu",
        "unit": "sec",
        "docs": docs,
        "hot_host_share": 0.3,
        "layout": "24 host-clustered files, non-splittable (maxPartitionBytes=4g)",
        "salted_s": round(s, 3),
        "unsalted_s": round(u, 3),
        "salted_docs_per_sec": round(docs / s, 1),
        "unsalted_docs_per_sec": round(docs / u, 1),
        "salted_speedup": round(u / s, 2),
        "salted_samples": [round(x, 3) for x in salted],
        "unsalted_samples": [round(x, 3) for x in unsalted],
    }))


HOT_TEMPLATE = (
    "all rights reserved terms of service privacy policy cookie notice "
    "subscribe to our newsletter follow us on social media copyright "
    "footer navigation home about contact sitemap back to top"
)


def dedup_skew_main() -> None:
    """Hot-band evidence for the PAIR joins (VERDICT r03 item 7): one
    boilerplate template owns 30% of the corpus, so its whole slice lands
    in ONE LSH bucket per band.  The clique join must emit O(hot^2) pairs
    (the wall a template cliff costs at corpus scale); max_bucket star
    edges collapse it to O(hot) while preserving the connected components
    downstream clustering consumes.  Passes alternate clique/star so both
    sample the same noise window; best-of-3 each."""
    cpus = min(HI, os.cpu_count() or 1)
    os.sched_setaffinity(0, set(range(cpus)))  # inherited by the JVM
    from pyspark.sql import functions as F

    from image_ocr_spark.operators.dedup import minhash_lsh_pairs
    from image_ocr_spark.session import get_spark

    spark = get_spark(
        f"local[{cpus}]",
        app_name="bench-dedup-skew",
        shuffle_partitions=cpus * 2,
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # replicate so the hot slice is big enough that the clique join's
    # O(hot^2) output is a WALL cliff, not just a row-count statistic
    replicas = int(os.environ.get("SPARK_GRAFT_DEDUP_SKEW_REPLICAS", "4"))
    reps = spark.range(replicas).select(F.col("id").alias("_r"))
    corpus = (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") + F.col("_r") * 10_000_000).alias("doc_id"),
            F.when(F.col("doc_id") % 10 < 3, F.lit(HOT_TEMPLATE))
            .otherwise(
                F.concat(F.col("text"), F.lit(" r"), F.col("_r").cast("string"))
            )
            .alias("text"),
        )
        .persist()
    )
    n = corpus.count()
    hot = corpus.filter(F.col("text") == HOT_TEMPLATE).count()

    def one(max_bucket):
        t0 = time.time()
        cnt = minhash_lsh_pairs(corpus, max_bucket=max_bucket).count()
        return time.time() - t0, cnt

    one(64)  # warm: JIT + python workers
    clique_w, star_w = [], []
    clique_n = star_n = 0
    for _ in range(3):
        t, clique_n = one(None)
        clique_w.append(t)
        t, star_n = one(64)
        star_w.append(t)
    corpus.unpersist()
    spark.stop()
    c, s = min(clique_w), min(star_w)
    print(json.dumps({
        "metric": f"dedup_skew_demo_{_sf_tag()}_pinned{cpus}cpu",
        "unit": "sec",
        "docs": n,
        "hot_template_docs": hot,
        "clique_s": round(c, 3),
        "star_s": round(s, 3),
        "clique_pairs": clique_n,
        "star_pairs": star_n,
        "star_speedup": round(c / s, 2),
        "clique_samples": [round(x, 3) for x in clique_w],
        "star_samples": [round(x, 3) for x in star_w],
    }))


def emb_skew_main() -> None:
    """Hot-cell evidence for the grouped embedding verify (VERDICT r04
    item 2): a dup-dense template cluster lands one oversized IVF cell, so
    the per-cell applyInPandas scorer runs O(m^2 * dim) in ONE straggler
    task; max_cell salted sub-block pairs spread the same work over
    ~(m/cap)^2 bounded tasks.  The assigned relation is constructed
    directly (hot cell 0 + uniform background cells) so the measurement
    isolates the verify stage; pair sets must match exactly.  Passes
    alternate uncapped/capped in the same noise window; best-of-2 (the
    uncapped straggler is ~110 s/pass)."""
    cpus = min(HI, os.cpu_count() or 1)
    os.sched_setaffinity(0, set(range(cpus)))
    from pyspark.sql import functions as F

    from image_ocr_spark.operators.similarity import _dup_pairs_grouped
    from image_ocr_spark.session import get_spark

    spark = get_spark(
        f"local[{cpus}]",
        app_name="bench-emb-skew",
        shuffle_partitions=cpus * 2,
    )
    n_hot = int(os.environ.get("SPARK_GRAFT_EMB_SKEW_HOT", "10000"))
    n_bg, dim, n_cells = n_hot // 3, 64, 64
    # hot vectors: one template + ~20% deterministic per-(vid, dim) noise —
    # big enough that most pairs land BELOW the 990-milli threshold (the
    # wall is the scoring compute, not a quadratic output), small enough
    # that a real k-means would still co-locate them
    hot = spark.range(n_hot).select(
        F.col("id").alias("vid"),
        F.lit(0).alias("cell"),
    )
    bg = spark.range(n_hot, n_hot + n_bg).select(
        F.col("id").alias("vid"),
        (F.pmod(F.col("id"), F.lit(n_cells - 1)) + 1).cast("int").alias("cell"),
    )
    assigned = (
        hot.unionByName(bg)
        .select(
            "vid",
            "cell",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: (F.sin(i.cast("double") * 0.37) + F.lit(2.0))
                + (
                    (F.pmod(F.col("vid") * 31 + i * 7, F.lit(17)) - F.lit(8.0))
                    / F.lit(20.0)
                ),
            ).alias("v"),
        )
        .persist()
    )
    n = assigned.count()

    def one(max_cell):
        t0 = time.time()
        cnt = (
            _dup_pairs_grouped(assigned, 990, max_cell=max_cell)
            .distinct()
            .count()
        )
        return time.time() - t0, cnt

    one(1024)  # warm: JIT + python workers
    flat_w, capped_w = [], []
    flat_n = capped_n = 0
    for _ in range(2):  # best-of-2: the uncapped straggler is ~110 s/pass
        t, flat_n = one(None)
        flat_w.append(t)
        t, capped_n = one(1024)
        capped_w.append(t)
    assigned.unpersist()
    spark.stop()
    f, c = min(flat_w), min(capped_w)
    print(json.dumps({
        "metric": f"emb_skew_demo_pinned{cpus}cpu",
        "unit": "sec",
        "vectors": n,
        "hot_cell_vectors": n_hot,
        "dim": dim,
        "uncapped_s": round(f, 3),
        "capped_s": round(c, 3),
        "uncapped_pairs": flat_n,
        "capped_pairs": capped_n,
        "pairs_match": flat_n == capped_n,
        "capped_speedup": round(f / c, 2),
        "uncapped_samples": [round(x, 3) for x in flat_w],
        "capped_samples": [round(x, 3) for x in capped_w],
    }))


def pairs_scaling_main() -> None:
    """N-vs-4N scaling for the shuffle-heavy pair path (minhash LSH over
    the sf corpus + variants): same disjoint-pinned-core, coinciding-window
    methodology as the flagship — each efficiency sample is one lo pass
    co-running with back-to-back hi passes."""
    os.makedirs(CACHE_ROOT, exist_ok=True)
    ncpu = os.cpu_count() or 1
    if ncpu >= LO + HI:
        lo_cores, hi_cores = f"0-{LO - 1}", f"{LO}-{LO + HI - 1}"
    else:
        lo_cores = f"0-{min(LO, ncpu) - 1}"
        hi_cores = f"0-{min(HI, ncpu) - 1}"
    lo_w = PinnedWorker(LO, lo_cores, SF_DIR, mode="--pairs-worker")
    hi_w = PinnedWorker(HI, hi_cores, SF_DIR, mode="--pairs-worker")
    lo_w.wait_ready()
    hi_w.wait_ready()
    ratio = max(1, HI // LO)
    best = {LO: float("inf"), HI: float("inf")}
    effs = []
    for _ in range(4):
        lo_w.go()
        his = [hi_w.ask() for _ in range(ratio)]
        t_lo = lo_w.read_t()
        t_hi = min(his)
        best[LO] = min(best[LO], t_lo)
        best[HI] = min(best[HI], t_hi)
        effs.append((t_lo / t_hi) / ratio)
    lo_w.close()
    hi_w.close()
    effs.sort()
    print(json.dumps({
        "metric": f"pairs_scaling_{_sf_tag()}_minhash_lsh",
        "unit": "sec",
        "lo_cpus": LO,
        "hi_cpus": HI,
        "lo_s": round(best[LO], 3),
        "hi_s": round(best[HI], 3),
        "scaling_efficiency": round(effs[len(effs) // 2], 3),
        "scaling_samples": [round(e, 3) for e in effs],
    }))


def bloom_build_main() -> None:
    """Bloom BUILD driver-traffic bench (r06): the segmented executor-side
    packed build vs the retired row-collect formulation, at a 2^27-bit
    bitmap (16 MiB) over 2M synthetic keys.  The new path's driver
    payload is exactly m/8 chunk bytes; the old path collect()ed every
    distinct set-bit position as a driver Row (~0.1-0.35*m rows at real
    densities).  Reports both walls, the driver-traffic numbers, and
    bitmap equality."""
    import numpy as np
    from pyspark.sql import functions as F

    from image_ocr_spark.operators.bloom import (
        DEFAULT_K,
        bloom_build,
        bloom_position_rows,
        pack_position_rows,
    )
    from image_ocr_spark.session import get_spark

    m_bits = 1 << 27
    n_keys = 2_000_000
    spark = get_spark(f"local[{HI}]", shuffle_partitions=2 * HI)
    keys = spark.range(n_keys).select(
        F.concat(F.lit("key-"), F.col("id")).alias("text")
    ).persist()
    keys.count()  # materialize input outside the timed windows

    t0 = time.time()
    bm = bloom_build(keys, "text", m_bits, DEFAULT_K)
    t_new = time.time() - t0

    t0 = time.time()
    rows = bloom_position_rows(keys, "text", m_bits, DEFAULT_K).collect()
    old = pack_position_rows(rows, m_bits)
    t_old = time.time() - t0

    equal = bool(np.array_equal(bm, old))
    spark.stop()
    print(json.dumps({
        "metric": "bloom_build_driver_traffic",
        "m_bits": m_bits,
        "n_keys": n_keys,
        "k": DEFAULT_K,
        "bits_set": int(np.unpackbits(bm).sum()),
        "build_wall_segmented_s": round(t_new, 2),
        "build_wall_rowcollect_s": round(t_old, 2),
        "driver_payload_bytes_segmented": m_bits // 8,
        "driver_rows_rowcollect": len(rows),
        "bitmap_equal": equal,
    }))


def canary_main() -> None:
    """Single-core pure-Python host-speed canary: tokenize+extract 2000
    synthesized pages through pycore on ONE pinned cpu.  pycore is
    code-stable across rounds, so this number separates 'the host is
    slower today' from 'the code got slower' when flagship throughput
    moves (r04: three flagship runs sat ~7% under r03's best window with
    the flagship path code-identical — this canary makes that call
    directly next time)."""
    os.sched_setaffinity(0, {0})
    import duckdb

    from image_ocr_spark.fixtures.gen_pages import build_page
    from image_ocr_spark.pycore.extractor import extract_page

    rows = duckdb.sql(
        f"SELECT doc_id, coalesce(text, '') AS text, lang "
        f"FROM read_parquet('{SF_DIR}/documents.parquet') "
        f"ORDER BY doc_id LIMIT 2000"
    ).fetchall()
    pages = [build_page(d, t, lang) for d, t, lang in rows]
    # warm pass (regex compile, JIT-free but import/alloc effects)
    for p in pages[:200]:
        extract_page(p["html"])
    t0 = time.time()
    for p in pages:
        extract_page(p["html"])
    wall = time.time() - t0
    print(json.dumps({
        "metric": f"cpu_canary_{_sf_tag()}_pycore_1core",
        "unit": "sec",
        "docs": len(pages),
        "wall_s": round(wall, 3),
        "docs_per_sec_1core": round(len(pages) / wall, 1),
    }))


def _canary_rate():
    """docs/s from a fresh single-core canary subprocess (see canary_main);
    None if it fails.  main() runs one before and one after the timed
    windows so every BENCH_r{N}.json carries its own host-speed
    adjudication (r04's flagship dip took a round to attribute to tenant
    noise because the canary existed only out-of-band)."""
    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--canary"],
            capture_output=True, text=True, timeout=120,
        )
        return json.loads(out.stdout.strip().splitlines()[-1])[
            "docs_per_sec_1core"
        ]
    except Exception:
        return None


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--canary":
        canary_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]), sys.argv[3], skew="--skew" in sys.argv[4:])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--pairs-worker":
        pairs_worker(int(sys.argv[2]), sys.argv[3])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--skew":
        skew_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--dedup-skew":
        dedup_skew_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--emb-skew":
        emb_skew_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--pairs-scaling":
        pairs_scaling_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--frontier-worker":
        frontier_worker(int(sys.argv[2]), sys.argv[3])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--frontier":
        frontier_scaling_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--warc-worker":
        warc_worker(int(sys.argv[2]), sys.argv[3])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--warc-ingest":
        warc_scaling_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "--bloom-build":
        bloom_build_main()
        return
    os.makedirs(CACHE_ROOT, exist_ok=True)
    meta = prepare_pages()
    path = pages_path()
    # DISJOINT core sets (lo: 0..LO-1, hi: LO..LO+HI-1) so the idle JVM's
    # background threads never sit on the measuring JVM's cores; passes
    # alternate lo,hi,lo,hi so each ratio sample shares one noise window.
    # Needs LO+HI host cpus; on smaller hosts fall back to overlapping
    # 0-based ranges (the r01 layout) rather than failing at taskset exec.
    ncpu = os.cpu_count() or 1
    disjoint = ncpu >= LO + HI
    if disjoint:
        lo_cores, hi_cores = f"0-{LO - 1}", f"{LO}-{LO + HI - 1}"
    else:
        # clamp BOTH ranges on small hosts (a 2-cpu host must not taskset 0-3)
        lo_cores = f"0-{min(LO, ncpu) - 1}"
        hi_cores = f"0-{min(HI, ncpu) - 1}"
    canary_before = _canary_rate()
    lo_w = PinnedWorker(LO, lo_cores, path)
    hi_w = PinnedWorker(HI, hi_cores, path)
    lo_w.wait_ready()
    hi_w.wait_ready()
    best = {LO: float("inf"), HI: float("inf")}
    pair_effs = []
    deadline = time.time() + BUDGET_S
    passes = 0
    ratio = max(1, HI // LO)
    while passes < 3 or (time.time() < deadline and passes < 10):
        # SAME input, SAME noise window: one lo pass runs on its cores
        # while `ratio` hi passes run back-to-back on the disjoint hi
        # cores — the two measurements cover the same ~45 s of wall clock,
        # so one pair's efficiency cannot straddle an external load shift.
        # (Sequential alternation swung pair ratios 0.45-0.95 from tenant
        # load drift alone; windows MUST coincide on this shared host.)
        # On hosts too small for disjoint sets the workers share cores, so
        # they must run SEQUENTIALLY — co-running would inflate t_lo and
        # overstate the efficiency.
        if disjoint:
            lo_w.go()
            hi_ts = [hi_w.ask() for _ in range(ratio)]
            t_lo = lo_w.read_t()
        else:
            t_lo = lo_w.ask()
            hi_ts = [hi_w.ask() for _ in range(ratio)]
        best[LO] = min(best[LO], t_lo)
        best[HI] = min(best[HI], min(hi_ts))
        # throughput_hi / throughput_lo / (HI/LO)
        #   = (ratio*docs/sum(hi_ts)) / (docs/t_lo) / (HI/LO)
        # (== t_lo/sum(hi_ts) when HI is an exact multiple of LO); the hi
        # side even eats its inter-pass gaps, so the estimate is
        # conservative.  Median of pairs, never a best-of across windows.
        pair_effs.append((ratio * t_lo / sum(hi_ts)) / (HI / LO))
        passes += 1
    lo_w.close()
    hi_w.close()
    pair_effs.sort()
    eff_median = pair_effs[len(pair_effs) // 2] if len(pair_effs) % 2 else (
        (pair_effs[len(pair_effs) // 2 - 1] + pair_effs[len(pair_effs) // 2]) / 2
    )

    docs, mbytes = meta["docs"], meta["bytes"] / 1e6
    dps_lo, dps_hi = docs / best[LO], docs / best[HI]
    best_eff = (dps_hi / dps_lo) / (HI / LO)  # cross-window, reported for reference
    result = {
        "metric": f"flagship_extract_{_sf_tag()}_pinned{HI}cpu_wall",
        "value": round(best[HI], 3),
        "unit": "sec",
        "queries": {
            f"flagship_{LO}cpu": round(best[LO], 3),
            f"flagship_{HI}cpu": round(best[HI], 3),
        },
        "sf": _sf_tag(),
        "docs": docs,
        "html_mb": round(mbytes, 1),
        "docs_per_sec_lo": round(dps_lo, 1),
        "docs_per_sec": round(dps_hi, 1),
        "mb_per_sec_lo": round(mbytes / best[LO], 2),
        "mb_per_sec": round(mbytes / best[HI], 2),
        "scaling_pair": [LO, HI],
        "scaling_efficiency": round(eff_median, 3),
        "scaling_efficiency_bestof": round(best_eff, 3),
        "scaling_pair_samples": [round(e, 3) for e in pair_effs],
        "canary_docs_per_sec_1core_before": canary_before,
        "canary_docs_per_sec_1core_after": _canary_rate(),
    }
    # Canary-normalized headline (r06, VERDICT #7): docs/s divided by the
    # mean single-core pycore canary rate bracketing the window.  The
    # canary is code-stable across rounds, so this figure self-adjudicates
    # host-tenancy swings (r05's 70.1k raw vs r04's 76.5k was entirely a
    # slower host: ~17.4 vs ~17.5 in canary units).
    canaries = [c for c in (result["canary_docs_per_sec_1core_before"],
                            result["canary_docs_per_sec_1core_after"]) if c]
    if canaries:
        result["docs_per_canary_unit"] = round(
            result["docs_per_sec"] / (sum(canaries) / len(canaries)), 2
        )
    print(json.dumps(result))


if __name__ == "__main__":
    main()
