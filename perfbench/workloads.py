"""The benchmark's workloads: each is a list of ops issued one at a time.

An op is a named callable that runs one caller-visible action against the
engine and returns its output (a collected frame or a small report) for the
digest check. `prep` work (fresh directories, cache prefill) runs before
the op's timer starts.

Ops come in groups. Within a pass the seed permutes the groups; ops inside
a group keep their order because each reads what the previous one wrote.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Any, Callable

TPCH22 = (
    "pricing_summary min_cost_supplier shipping_priority_sql late_shipment_priority "
    "local_supplier_volume forecast_revenue_change nation_pair_trade_volume "
    "nation_market_share product_profit_by_nation_year returned_item_customers "
    "nation_revenue_share late_ship_priority_counts customer_order_counts "
    "promo_revenue_share top_supplier_revenue part_supplier_diversity "
    "small_qty_part_revenue large_volume_customers branded_shipment_revenue "
    "dominant_part_suppliers sole_late_supplier dormant_rich_customers"
).split()

# doc_pipeline inputs come in this many seed-selected variants (seed mod
# N_VARIANTS picks the batch split, the cache prefill and the orders
# deltas), so every op's expected output can be generated ahead of time.
N_VARIANTS = 2
N_BATCHES = 3
NEAR_BATCHES = 2
N_FRAGMENTS = 32
FRAG_TARGET_ROWS = 4000

CACHE_PROMPT = "Summarize this paper: {{ input.text }}"
CACHE_SCHEMA = {"title": "string", "abstract_summary": "string"}

PIPELINE_OPS = [
    {"name": "split", "type": "split", "split_key": "text", "chunk_size": 120, "chunk_overlap": 20},
    {
        "name": "extract", "type": "map",
        "prompt": "Extract structured content from this section: {{ input.chunk_text }}",
        "output_schema": {"title": "string", "abstract_summary": "string", "key_findings": "string"},
        "validate": ["len(output['title']) > 0"],
        "num_retries_on_validate_failure": 2,
    },
    {
        "name": "synthesize", "type": "reduce", "reduce_key": "doc_id",
        "prompt": "Synthesize one summary from these sections: {{ input.text }}",
        "output_schema": {"abstract_summary": "string", "key_findings": "string"},
    },
    {
        "name": "article_gen", "type": "map",
        "prompt": "Write a news article from: {{ input.abstract_summary }} {{ input.key_findings }}",
        "output_schema": {
            "headline": "string", "subtitle": "string", "article_body": "string",
            "meta_description": "string", "pull_quotes": "list[string]",
            "key_takeaways": "list[string]", "word_count": "integer",
        },
    },
]


@dataclass
class Op:
    name: str
    fn: Callable[["Ctx"], Any]
    prep: Callable[["Ctx"], None] | None = None


@dataclass
class Ctx:
    """What ops share within one run: the session, input scale, the
    pass's work directory and values one op leaves for the next."""

    spark: Any
    sf_dir: str
    work: str
    seed: int
    fixtures: str = ""
    pass_dir: str = ""
    counters: dict = field(default_factory=dict)
    state: dict = field(default_factory=dict)

    def add(self, key: str, value: float) -> None:
        self.counters[key] = self.counters.get(key, 0.0) + value


# -- query ops ---------------------------------------------------------------

def query_op(name: str) -> Op:
    def run(ctx: Ctx):
        from etl_poc_spark import registry

        return registry.QUERIES[name](ctx.spark, ctx.sf_dir).toPandas()

    return Op(name, run)


# -- doc_pipeline ------------------------------------------------------------

def _pipeline_config(ctx: Ctx) -> dict:
    return {
        "default_model": "stub",
        "datasets": {"papers": {"type": "file", "path": os.path.join(ctx.sf_dir, "documents.parquet"),
                                "format": "parquet"}},
        "operations": PIPELINE_OPS,
        "pipeline": {
            "steps": [
                {"name": "sections", "input": "papers", "operations": ["split", "extract"]},
                {"name": "summaries", "input": "sections", "operations": ["synthesize"]},
                {"name": "articles", "input": "summaries", "operations": ["article_gen"]},
            ],
            "output": {"type": "file", "path": os.path.join(ctx.pass_dir, "out"),
                       "intermediate_dir": os.path.join(ctx.pass_dir, "steps")},
        },
    }


def _pipeline_run(ctx: Ctx):
    """The reference dataflow: split -> extract -> synthesize -> article
    generation (per-step parquet checkpoints), then the rule-based quality
    score and the threshold partition the sinks consume."""
    from pyspark.sql import functions as F

    from etl_poc_spark.functions.scoring import QUALITY_THRESHOLD, article_quality_score_expr
    from etl_poc_spark.io import load_table
    from etl_poc_spark.plans.yaml_pipeline import run_pipeline

    docs = load_table(ctx.spark, ctx.sf_dir, "documents").select("doc_id", "text")
    out = run_pipeline(ctx.spark, _pipeline_config(ctx), datasets={"papers": docs})
    scored = out["__final__"].withColumn(
        "quality_score",
        article_quality_score_expr(
            F.col("headline"), F.col("subtitle"), F.col("article_body"),
            F.col("meta_description"), F.size("pull_quotes"), F.size("key_takeaways"),
        ),
    )
    ctx.state["high"] = scored.filter(F.col("quality_score") >= QUALITY_THRESHOLD)
    return scored.toPandas()


def _dir_usage(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


def _sink_json(ctx: Ctx):
    import json

    from etl_poc_spark.sinks.sinks import write_json_records

    path = os.path.join(ctx.pass_dir, "articles_json")
    n = write_json_records(ctx.state["high"], path)
    files, size = _dir_usage(path)
    ctx.add("sinks.files_written", files)
    ctx.add("sinks.bytes_written", size)
    records = []
    for name in os.listdir(path):
        if name.endswith(".json"):
            with open(os.path.join(path, name)) as fh:
                records += [json.dumps(json.loads(line), sort_keys=True) for line in fh if line.strip()]
    return {"returned": n, "records": sorted(records)}


def _sink_markdown(ctx: Ctx):
    import json

    import pandas as pd

    from etl_poc_spark.sinks.sinks import write_markdown_articles

    path = os.path.join(ctx.pass_dir, "articles_md")
    write_markdown_articles(ctx.state["high"], path)
    files, size = _dir_usage(path)
    ctx.add("sinks.files_written", files)
    ctx.add("sinks.bytes_written", size)
    rows = []
    for slug in sorted(os.listdir(path)) if os.path.isdir(path) else []:
        with open(os.path.join(path, slug, "article.json")) as fh:
            article = json.load(fh)
        has_md = os.path.getsize(os.path.join(path, slug, "article.md")) > 0
        rows.append({"slug": slug, "article": json.dumps(article, sort_keys=True), "has_md": has_md})
    return pd.DataFrame(rows, columns=["slug", "article", "has_md"])


def _cache_half(ctx: Ctx):
    """cached_llm_map over a seeded half of the documents into an empty
    cache: every row misses and is written to the cache."""
    from etl_poc_spark.llm.cache import cached_llm_map
    from etl_poc_spark.plans.schema_grammar import to_struct_type

    half = ctx.spark.read.parquet(os.path.join(ctx.fixtures, "half_docs.parquet"))
    return cached_llm_map(half, CACHE_PROMPT, to_struct_type(CACHE_SCHEMA),
                          os.path.join(ctx.pass_dir, "llm_cache"), input_cols=["text"]).toPandas()


def _cache_full(ctx: Ctx):
    """cached_llm_map over all documents against the half-filled cache:
    the output must equal an all-miss run, whatever the prefill."""
    from etl_poc_spark.io import load_table
    from etl_poc_spark.llm.cache import cached_llm_map
    from etl_poc_spark.plans.schema_grammar import to_struct_type

    docs = load_table(ctx.spark, ctx.sf_dir, "documents").select("doc_id", "text")
    return cached_llm_map(docs, CACHE_PROMPT, to_struct_type(CACHE_SCHEMA),
                          os.path.join(ctx.pass_dir, "llm_cache"), input_cols=["text"]).toPandas()


CACHE_FULL_OP = "doc.cache_full"


def distinct_cache_keys(ctx: Ctx) -> int:
    """Distinct cache keys of the cache_full op's input. The key hashes the
    model, the prompt template and the text (null as ""), so there is one
    per distinct text."""
    import pyarrow.parquet as pq

    texts = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"), columns=["text"]).column("text")
    return len({t or "" for t in texts.to_pylist()})


# -- stores --------------------------------------------------------------------

STORE_DIRS = ("exact", "near", "stream_store", "stream_kept", "stream_ckpt", "orders_v", "orders_frag")


def build_fixtures(ctx: Ctx) -> None:
    """doc_pipeline's inputs for the seed's variant: the half of the
    documents that prefills the LLM cache, the document batches (parquet)
    and their JSONL landing zone, the orders base plus an update delta,
    and a fragmented copy of orders for file compaction."""
    import json

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    v = ctx.seed % N_VARIANTS
    rng = np.random.default_rng(1000 + v)
    docs = pq.read_table(os.path.join(ctx.sf_dir, "documents.parquet"))
    order = rng.permutation(docs.num_rows)
    cuts = np.sort(rng.choice(np.arange(1, docs.num_rows), N_BATCHES - 1, replace=False))
    bdir = os.path.join(ctx.fixtures, "batches")
    ldir = os.path.join(ctx.fixtures, "landing")
    os.makedirs(bdir)
    os.makedirs(ldir)
    pq.write_table(docs.select(["doc_id", "text"]).take(pa.array(np.sort(order[: docs.num_rows // 2]))),
                   os.path.join(ctx.fixtures, "half_docs.parquet"))
    for i, idx in enumerate(np.split(order, cuts)):
        batch = docs.take(pa.array(np.sort(idx)))
        pq.write_table(batch, os.path.join(bdir, f"b{i}.parquet"))
        with open(os.path.join(ldir, f"b{i}.jsonl"), "w") as fh:
            for rec in batch.select(["doc_id", "text"]).to_pylist():
                fh.write(json.dumps(rec) + "\n")

    orders = pq.read_table(os.path.join(ctx.sf_dir, "orders.parquet"))
    odir = os.path.join(ctx.fixtures, "orders")
    os.makedirs(odir)
    n = orders.num_rows
    pq.write_table(orders.append_column("seq", pa.array(np.zeros(n, dtype="int64"))),
                   os.path.join(odir, "base.parquet"))
    pick = np.sort(rng.choice(n, n // 10, replace=False))
    delta = orders.take(pa.array(pick))
    price = pc.add(delta.column("o_totalprice"), 1.0)
    delta = delta.set_column(delta.schema.get_field_index("o_totalprice"), "o_totalprice", price)
    delta = delta.append_column("seq", pa.array(np.ones(len(pick), dtype="int64")))
    pq.write_table(delta, os.path.join(odir, "delta1.parquet"))

    fdir = os.path.join(ctx.fixtures, "orders_frag")
    os.makedirs(fdir)
    step = -(-n // N_FRAGMENTS)
    for i in range(N_FRAGMENTS):
        pq.write_table(orders.slice(i * step, step), os.path.join(fdir, f"part-{i:05d}.parquet"))


def input_bytes(fixtures: str) -> int:
    """Bytes of one pass's store input: the batches, the landing zone, the
    orders base and delta, and the fragmented table."""
    return sum(_dir_usage(os.path.join(fixtures, d))[1]
               for d in ("batches", "landing", "orders", "orders_frag"))


def _stores(ctx: Ctx) -> dict[str, str]:
    return {d: os.path.join(ctx.pass_dir, "stores", d) for d in STORE_DIRS}


def _batch(ctx: Ctx, i: int):
    return ctx.spark.read.parquet(os.path.join(ctx.fixtures, "batches", f"b{i}.parquet"))


def _exact_ingest(i: int):
    def run(ctx: Ctx):
        from etl_poc_spark.operators.incremental import incremental_exact_dedup_ingest

        kept = incremental_exact_dedup_ingest(
            ctx.spark, _batch(ctx, i), _stores(ctx)["exact"], ["text"], batch_tag=f"b{i}"
        )
        return kept.select("doc_id", "text").toPandas()

    return run


def _near_ingest(i: int):
    def run(ctx: Ctx):
        from etl_poc_spark.operators.incremental import incremental_near_dup_ingest

        # batch_id slots the store by batch (the streaming seam's layout),
        # so compaction folds whole batches, not part files
        kept = incremental_near_dup_ingest(ctx.spark, _batch(ctx, i), _stores(ctx)["near"], batch_id=i)
        return kept.select("doc_id", "text").toPandas()

    return run


def _read_exact(ctx: Ctx):
    from etl_poc_spark.operators.incremental import read_exact_dedup_store

    return read_exact_dedup_store(ctx.spark, _stores(ctx)["exact"]).toPandas()


def _compact(kind: str):
    def run(ctx: Ctx):
        from etl_poc_spark.operators import incremental

        fn = incremental.compact_exact_dedup_store if kind == "exact" else incremental.compact_near_dup_store
        rep = fn(ctx.spark, _stores(ctx)[kind])
        # slot bookkeeping is the protocol's; data-file counts follow the
        # session's partitioning and are left out of the check
        return {k: rep[k] for k in ("gen", "slots_folded", "slots_live")}

    return run


def _stream_ingest(ctx: Ctx):
    from etl_poc_spark.operators.incremental import streaming_exact_dedup_ingest

    s = _stores(ctx)
    stream = (
        ctx.spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .json(os.path.join(ctx.fixtures, "landing"))
    )
    q = streaming_exact_dedup_ingest(
        stream, s["stream_store"], s["stream_kept"], s["stream_ckpt"], ["text"]
    ).trigger(availableNow=True).start()
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
    ctx.add("streaming.batches", len(progress))
    ctx.add("streaming.batch_s", sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1000.0)
    return ctx.spark.read.parquet(s["stream_kept"]).select("doc_id", "text").toPandas()


def _upsert(name: str):
    def run(ctx: Ctx):
        from etl_poc_spark.operators.upsert import upsert_versioned

        updates = ctx.spark.read.parquet(os.path.join(ctx.fixtures, "orders", f"{name}.parquet"))
        cid = upsert_versioned(ctx.spark, updates, _stores(ctx)["orders_v"], ["o_orderkey"], "seq",
                               "o_orderstatus")
        ctx.add("upsert.commits", 1)
        # the commit id is random; the table state it published is checked
        # by the reads that follow
        return {"commit_id_hex12": len(cid) == 12 and all(c in "0123456789abcdef" for c in cid)}

    return run


def _read_versioned(as_of: int | None):
    def run(ctx: Ctx):
        from etl_poc_spark.operators.upsert import read_versioned

        return read_versioned(ctx.spark, _stores(ctx)["orders_v"], as_of=as_of).toPandas()

    return run


def _checkpoint(ctx: Ctx):
    from etl_poc_spark.operators.upsert import checkpoint_versioned

    return {"as_of": checkpoint_versioned(ctx.spark, _stores(ctx)["orders_v"])}


def _vacuum(ctx: Ctx):
    from etl_poc_spark.operators.upsert import vacuum_versioned

    return {"removed": vacuum_versioned(ctx.spark, _stores(ctx)["orders_v"])}


def _copy_fragments(ctx: Ctx) -> None:
    shutil.copytree(os.path.join(ctx.fixtures, "orders_frag"), _stores(ctx)["orders_frag"])


def _compact_files(ctx: Ctx):
    from etl_poc_spark.operators.layout import compact_files

    return compact_files(ctx.spark, _stores(ctx)["orders_frag"], FRAG_TARGET_ROWS)


def store_accounting(ctx: Ctx) -> dict[str, tuple[int, float]]:
    """(size, mtime) of every file under the pass's store directories."""
    out = {}
    for d in _stores(ctx).values():
        for root, _, files in os.walk(d):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def store_slots(ctx: Ctx) -> int:
    n = 0
    for kind in ("exact", "near", "stream_store"):
        d = _stores(ctx)[kind]
        if os.path.isdir(d):
            n += sum(1 for e in os.listdir(d) if "=" in e and os.path.isdir(os.path.join(d, e)))
    return n


def store_group() -> list[Op]:
    """Document batches into the exact and near-dup stores, with a
    compaction cycle (reads before and after must agree) after each batch
    from the second on."""
    ops: list[Op] = []
    for i in range(N_BATCHES):
        ops.append(Op(f"store.exact_ingest_b{i}", _exact_ingest(i)))
        if i < NEAR_BATCHES:
            ops.append(Op(f"store.near_ingest_b{i}", _near_ingest(i)))
        if i > 0:
            ops += [Op(f"store.read_before_compact_b{i}", _read_exact),
                    Op(f"store.compact_exact_b{i}", _compact("exact"))]
            if i < NEAR_BATCHES:
                ops.append(Op(f"store.compact_near_b{i}", _compact("near")))
            ops.append(Op(f"store.read_after_compact_b{i}", _read_exact))
    return ops


def doc_pipeline_groups() -> list[list[Op]]:
    return [
        [Op("doc.reference_dataflow", _pipeline_run), Op("doc.sink_json", _sink_json),
         Op("doc.sink_markdown", _sink_markdown)],
        [Op("doc.cache_half", _cache_half), Op(CACHE_FULL_OP, _cache_full)],
        # driver-side training (k-means coarse quantizer, then PQ codebooks)
        # before an IVF probe; the LSH self-join with connected components
        # runs inside the near-dup store ingests
        [query_op("embedding_ivfpq_topk")],
        store_group(),
        [Op("store.stream_ingest", _stream_ingest)],
        [Op("store.upsert_base", _upsert("base")), Op("store.upsert_delta1", _upsert("delta1")),
         Op("store.read_as_of_1", _read_versioned(1)), Op("store.checkpoint", _checkpoint),
         Op("store.vacuum", _vacuum), Op("store.read_latest", _read_versioned(None))],
        [Op("store.compact_files", _compact_files, prep=_copy_fragments)],
    ]


def doc_warmup(spark, work: str) -> None:
    """Start the Python workers and write and read back a small parquet
    table. Left cold, these cost the first op of a pass that needs them
    about 2 s more, and since the seed orders the pass, which op that is
    would change from run to run."""
    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus).repartition(cpus).mapInPandas(lambda it: it, "id long").collect()
    path = os.path.join(work, "warmup.parquet")
    spark.range(1000).selectExpr("id", "cast(id AS string) AS s").write.parquet(path)
    spark.read.parquet(path).collect()
    shutil.rmtree(path)


def tpch22_groups() -> list[list[Op]]:
    return [[query_op(q)] for q in TPCH22]


@dataclass
class Workload:
    groups: Callable[[], list[list[Op]]]
    fixtures: Callable[[Ctx], None] | None = None
    variants: int = 1
    stores: bool = False  # account files under the pass's store directories
    warmup: Callable[[Any, str], None] | None = None  # (spark, work dir), after the common warm-up


WORKLOADS = {
    "tpch22": Workload(tpch22_groups),
    "doc_pipeline": Workload(doc_pipeline_groups, build_fixtures, N_VARIANTS, stores=True, warmup=doc_warmup),
}


def op_key(workload: str, seed: int, op: str) -> str:
    """Key of an op's expected digest; inputs differ between variants."""
    n = WORKLOADS[workload].variants
    return f"{workload}/v{seed % n}/{op}" if n > 1 else f"{workload}/{op}"


def op_name(key: str) -> str:
    """The op of a digest key; registered queries are the names without a dot."""
    return key.rsplit("/", 1)[1]


def pass_order(ctx: Ctx, workload: str, pass_no: int) -> list[Op]:
    groups = WORKLOADS[workload].groups()
    random.Random(f"{ctx.seed}/{pass_no}").shuffle(groups)
    return [op for g in groups for op in g]
