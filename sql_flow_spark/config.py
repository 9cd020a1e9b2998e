"""Pipeline configuration: YAML -> dataclasses.

Mirrors the reference's config surface (reference: sqlflow/config.py —
pipeline{source,handler,sink}, commands, udfs, tables+managers,
on_error) including Jinja templating with SQLFLOW_* environment
variables (reference: config.py:194 render_config). Handler SQL is
Spark SQL dialect (the reference's is DuckDB dialect; semantics parity,
not syntax parity — see README).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from jinja2 import Template
from yaml import safe_load


class Policy:
    RAISE = "RAISE"
    IGNORE = "IGNORE"
    DLQ = "DLQ"


@dataclass
class SourceConf:
    type: str  # files | memory | rate | socket | jsonl_spool | kafka | websocket | webhook
    # files: directory of json/csv/parquet; streaming reads with
    # maxFilesPerTrigger, batch reads whole.
    path: Optional[str] = None
    format: str = "json"
    schema: Optional[str] = None  # DDL string; None -> infer
    max_files_per_trigger: Optional[int] = None
    # kafka
    brokers: list[str] = field(default_factory=list)
    topics: list[str] = field(default_factory=list)
    group_id: Optional[str] = None
    auto_offset_reset: str = "earliest"
    # rate
    rows_per_second: int = 100
    # websocket
    uri: Optional[str] = None
    options: dict = field(default_factory=dict)


@dataclass
class HandlerConf:
    type: str = "handlers.InferredBatch"  # or handlers.StructuredBatch
    sql: str = "SELECT * FROM batch"
    table: Optional[str] = None  # StructuredBatch target table
    # StructuredBatch durable state: parquet-append dir (shared storage
    # at scale); None -> a fresh temp dir.
    state_dir: Optional[str] = None


@dataclass
class SinkConf:
    type: str = "console"  # console | memory | noop | files | kafka | sqlcommand
    # files
    path: Optional[str] = None
    format: str = "parquet"
    mode: str = "append"
    partition_by: list[str] = field(default_factory=list)  # hive-style dirs
    # memory
    name: Optional[str] = None
    # kafka
    brokers: list[str] = field(default_factory=list)
    topic: Optional[str] = None
    # sqlcommand: SQL run per flush against view sqlflow_sink_batch
    sql: Optional[str] = None
    substitutions: list[dict] = field(default_factory=list)
    # upsert: latest-row-wins keyed parquet table
    key: list[str] = field(default_factory=list)
    order_by: Optional[str] = None
    n_buckets: int = 64
    options: dict = field(default_factory=dict)


@dataclass
class ErrorPolicyConf:
    policy: str = Policy.RAISE
    dlq: Optional[SinkConf] = None


@dataclass
class TumblingWindowConf:
    time_column: str
    duration: str  # e.g. "1 hour"
    watermark_delay: str = "0 seconds"
    # SQL aggregate expressions, e.g. ["count(*) AS n", "sum(v) AS total"]
    aggregates: list[str] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)


@dataclass
class ManagedTableConf:
    name: str
    tumbling_window: TumblingWindowConf
    sink: SinkConf


@dataclass
class SQLCommand:
    name: str
    sql: str


@dataclass
class ExternalTableConf:
    """A live external table registered as a temp view before the
    pipeline runs — the Spark equivalent of the reference's ATTACH
    (reference: dev/config/examples/kafka.postgres.join.yml,
    attach-geoip.yml). ``format: jdbc`` + options(url, dbtable, ...)
    for databases; csv/parquet/json + path for files."""

    name: str
    format: str = "jdbc"
    path: Optional[str] = None
    schema: Optional[str] = None  # DDL string (file formats)
    cache: bool = False  # cache the view (big dims, repeated micro-batches)
    options: dict = field(default_factory=dict)


@dataclass
class DebugAPIConf:
    """``debug_api:`` block — serve GET /sql?q= against the pipeline's
    session while it runs (reference: sqlflow/http.py DebugAPI behind
    cmd/sql-flow.py --with-http-debug). Debug surface: defaults to
    localhost and read-only SQL; a non-loopback ``host`` requires
    ``allow_remote: true`` (the server refuses to start otherwise) and
    writes require ``read_only: false``."""

    host: str = "127.0.0.1"
    port: int = 8080
    max_rows: int = 1000
    allow_remote: bool = False
    read_only: bool = True


@dataclass
class UDFConf:
    function_name: str
    import_path: str
    return_type: str = "string"
    vectorized: bool = True  # pandas UDF (arrow) vs row python UDF


@dataclass
class PipelineLegConf:
    """One extra handler->sink leg in a fan-out pipeline (``fanout:``
    top-level list). Every leg shares the main pipeline's source: in
    streaming mode ONE micro-batch read serves all legs (vs N queries
    re-reading the source), which is the whole point of fan-out —
    beyond the reference's single-pipeline configs."""

    name: str
    handler: HandlerConf
    sink: SinkConf


@dataclass
class DedupeConf:
    """``pipeline.dedupe:`` — source-side exactly-once per key. The
    reference achieves idempotency by dedup-on-insert in the sink DB
    (dev/config/examples/kafka.motherduck.idempotent.yml); Spark-native
    the dedup runs BEFORE the handler via
    dropDuplicatesWithinWatermark, state bounded by event time (an
    unbounded key domain with no time_column grows state forever —
    only use keys+no-time for small domains)."""

    keys: list[str]
    time_column: Optional[str] = None
    watermark_delay: str = "10 minutes"


@dataclass
class IngestDedupConf:
    """``pipeline.ingest_dedup:`` — streaming corpus dedup: every
    micro-batch is scored against the fingerprint index of everything
    ingested before it (dup_of_corpus / dup_in_batch / new), verdicts
    land in ``out_dir``, and the batch's new fingerprints grow the
    index. Batch-keyed overwrite directories make replays exactly-once
    (streaming/ingest_dedup.py has the full contract)."""

    index_dir: str
    id_column: str = "doc_id"
    text_column: str = "text"
    out_dir: Optional[str] = None


@dataclass
class CurationGateConf:
    """``pipeline.curation_gate:`` — streaming curation: every
    micro-batch gets the batch curation_pipeline verdict (duplicate >
    low_quality > repetitive > keep), with the duplicate check
    maintained across batches by the same fingerprint-index discipline
    as ``ingest_dedup`` (streaming/curation_gate.py has the contract).
    Thresholds default to the batch gate's QUALITY_MIN / REP_MAX."""

    index_dir: str
    id_column: str = "doc_id"
    text_column: str = "text"
    out_dir: Optional[str] = None
    quality_min: Optional[float] = None
    rep_max: Optional[float] = None


@dataclass
class DriftMonitorConf:
    """``pipeline.drift_monitor:`` — per-micro-batch PSI drift scoring
    against decile fences fitted ONCE on a reference dataset at
    pipeline start (streaming/drift.py). Scores (group, psi, n,
    drifted, batch_id) go to the optional ``sink``; drifted groups are
    logged at WARNING either way. The config-surface wiring of the r7
    streaming PSI monitor."""

    reference_path: str
    group_column: str
    value_column: str
    reference_format: str = "parquet"
    threshold: float = 0.25
    sink: Optional[SinkConf] = None


@dataclass
class HeavyHittersConf:
    """``pipeline.heavy_hitters:`` — streaming Misra–Gries heavy
    hitters folded across micro-batches (streaming/heavy_hitters.py):
    disk-backed ≤k-row state in ``state_dir``, per-batch report of
    keys possibly above share 1/(k+1) with [count_lo, count_hi] bounds
    and a `certain` flag, logged at INFO (WARNING for certain
    hitters)."""

    state_dir: str
    key_column: str
    k: int = 63


@dataclass
class AnnIndexConf:
    """``pipeline.ann_index:`` — maintain the disk-resident
    incremental IVF ANN index from the stream (streaming/ann_index.py):
    the FIRST batch trains the coarse quantizer and seeds the index
    (or an existing index at ``index_dir`` is loaded and appended to);
    every later micro-batch appends assign-only with the per-batch
    cell-occupancy PSI retrain flag. With ``audit_queries_path`` set,
    every ``audit_every``-th batch also runs ``recall_audit`` — the
    brute-force-graded search-quality row — and logs it (WARNING below
    ``audit_min_recall``, INFO otherwise); rows land in ``audit_dir``
    as batch-keyed parquet when given (replay-idempotent overwrite,
    the family's exactly-once discipline)."""

    index_dir: str
    id_column: str = "vec_id"
    embedding_column: str = "embedding"
    k: int = 16
    nprobe: int = 4
    # pq_k > 0: build also trains residual-PQ codebooks (faiss IVFADC),
    # rows carry a codes column, and the scheduled audit grades the ADC
    # serving path (search_pq) instead of raw-vector search
    pq_k: int = 0
    pq_sub_dim: int = 8
    # rebuild_on_drift: index_dir becomes a GENERATION ROOT
    # (index_dir/g0, g1, ... + a CURRENT pointer file); when a batch's
    # occupancy PSI flags needs_retrain, the leg rebuilds blue/green
    # into the next generation (IncrementalIVF.rebuild), atomically
    # bumps CURRENT, and keeps appending to the new index — the old
    # generation stays on disk for in-flight readers. Off by default:
    # retraining stays a logged, scheduled event.
    rebuild_on_drift: bool = False
    audit_queries_path: Optional[str] = None
    audit_queries_format: str = "parquet"
    audit_every: int = 0  # 0 = never audit
    audit_topk: int = 5
    audit_min_recall: float = 0.5
    audit_dir: Optional[str] = None


@dataclass
class RollupConf:
    """``pipeline.rollup:`` — maintained per-key aggregate table
    across micro-batches (streaming/rollup.py): mergeable partials to
    batch-keyed ``b=<id>`` overwrite partitions (replay-idempotent),
    merge-on-read, marker-protocol ``compact()``. ``aggs`` maps input
    column -> sum|count|min|max|avg."""

    table_dir: str
    keys: List[str]
    aggs: Dict[str, str]


@dataclass
class PipelineConf:
    source: SourceConf
    handler: HandlerConf
    sink: SinkConf
    on_error: ErrorPolicyConf = field(default_factory=ErrorPolicyConf)
    dedupe: Optional[DedupeConf] = None
    ingest_dedup: Optional[IngestDedupConf] = None
    curation_gate: Optional[CurationGateConf] = None
    drift_monitor: Optional[DriftMonitorConf] = None
    heavy_hitters: Optional[HeavyHittersConf] = None
    rollup: Optional[RollupConf] = None
    ann_index: Optional[AnnIndexConf] = None


@dataclass
class Conf:
    pipeline: PipelineConf
    commands: list[SQLCommand] = field(default_factory=list)
    udfs: list[UDFConf] = field(default_factory=list)
    tables: list[ManagedTableConf] = field(default_factory=list)
    external_tables: list[ExternalTableConf] = field(default_factory=list)
    debug_api: Optional[DebugAPIConf] = None
    fanout: list[PipelineLegConf] = field(default_factory=list)


def render_config(path: str, setting_overrides: dict | None = None) -> dict:
    """Jinja-render the YAML with SQLFLOW_*/ SPARK_GRAFT_* env vars
    available as template variables (reference: config.py:194)."""
    with open(path) as f:
        template = Template(f.read())
    settings_vars: dict = {}
    for key, value in os.environ.items():
        if key.startswith(("SQLFLOW_", "SPARK_GRAFT_")):
            settings_vars[key] = value
    settings_vars.update(setting_overrides or {})
    return safe_load(template.render(**settings_vars))


def _flat_merge(d: dict, typ: str, allowed: set[str]) -> dict:
    """Merge top-level fields with the type-named subsection. Dict-valued
    top-level keys are kept when they are known dataclass fields (e.g.
    ``options:``) — only the type subsection itself and unknown dict
    blobs are excluded, so a flat ``source: {type: kafka, options: ...}``
    config does not silently lose its connector options."""
    sub = d.get(typ, {}) if isinstance(d.get(typ), dict) else {}
    flat = {
        k: v
        for k, v in d.items()
        if k not in ("type", typ) and (not isinstance(v, dict) or k in allowed)
    }
    merged = {**flat, **sub}
    # `format: {type: parquet, ...}` nesting (reference config style)
    if isinstance(merged.get("format"), dict):
        merged["format"] = merged["format"].get("type", "parquet")
    return {k: v for k, v in merged.items() if k in allowed}


def _source_from_dict(d: dict) -> SourceConf:
    typ = d["type"]
    allowed = {f_.name for f_ in SourceConf.__dataclass_fields__.values()}  # type: ignore[attr-defined]
    return SourceConf(type=typ, **_flat_merge(d, typ, allowed - {"type"}))


def _sink_from_dict(d: dict) -> SinkConf:
    typ = d.get("type", "console")
    allowed = {f_.name for f_ in SinkConf.__dataclass_fields__.values()}  # type: ignore[attr-defined]
    return SinkConf(type=typ, **_flat_merge(d, typ, allowed - {"type"}))


def _handler_from_dict(d: dict) -> HandlerConf:
    return HandlerConf(
        type=d.get("type", "handlers.InferredBatch"),
        sql=d.get("sql", "SELECT * FROM batch"),
        table=d.get("table"),
        state_dir=d.get("state_dir"),
    )


def new_from_dict(conf: dict) -> Conf:
    p = conf["pipeline"]
    on_error_d = p.get("on_error", {}) or {}
    dlq = _sink_from_dict(on_error_d["dlq"]) if "dlq" in on_error_d else None

    tables: list[ManagedTableConf] = []
    for tconf in (conf.get("tables") or {}).get("managed", []):
        tw = tconf["tumbling_window"]
        tables.append(
            ManagedTableConf(
                name=tconf["name"],
                tumbling_window=TumblingWindowConf(
                    time_column=tw["time_column"],
                    duration=tw["duration"],
                    watermark_delay=tw.get("watermark_delay", "0 seconds"),
                    aggregates=tw.get("aggregates", []),
                    group_by=tw.get("group_by", []),
                ),
                sink=_sink_from_dict(tconf["sink"]),
            )
        )

    fanout: list[PipelineLegConf] = []
    for leg in conf.get("fanout", []):
        fanout.append(
            PipelineLegConf(
                name=leg["name"],
                handler=_handler_from_dict(leg.get("handler", {})),
                sink=_sink_from_dict(leg["sink"]),
            )
        )

    return Conf(
        fanout=fanout,
        debug_api=(
            DebugAPIConf(**(conf["debug_api"] or {}))
            if "debug_api" in conf
            else None
        ),
        external_tables=[
            ExternalTableConf(**e) for e in conf.get("external_tables", [])
        ],
        commands=[SQLCommand(**c) for c in conf.get("commands", [])],
        udfs=[UDFConf(**u) for u in conf.get("udfs", [])],
        tables=tables,
        pipeline=PipelineConf(
            source=_source_from_dict(p["source"]),
            handler=_handler_from_dict(p.get("handler", {})),
            sink=_sink_from_dict(p["sink"]),
            on_error=ErrorPolicyConf(
                policy=(on_error_d.get("policy") or Policy.RAISE).upper(),
                dlq=dlq,
            ),
            dedupe=(
                DedupeConf(**p["dedupe"]) if p.get("dedupe") else None
            ),
            ingest_dedup=(
                IngestDedupConf(**p["ingest_dedup"])
                if p.get("ingest_dedup")
                else None
            ),
            curation_gate=(
                CurationGateConf(**p["curation_gate"])
                if p.get("curation_gate")
                else None
            ),
            drift_monitor=_drift_monitor_from_dict(p.get("drift_monitor")),
            heavy_hitters=(
                HeavyHittersConf(**p["heavy_hitters"])
                if p.get("heavy_hitters")
                else None
            ),
            rollup=(
                RollupConf(**p["rollup"]) if p.get("rollup") else None
            ),
            ann_index=(
                AnnIndexConf(**p["ann_index"])
                if p.get("ann_index")
                else None
            ),
        ),
    )


def _drift_monitor_from_dict(d: Optional[dict]) -> Optional[DriftMonitorConf]:
    if not d:
        return None
    d = dict(d)
    sink = _sink_from_dict(d.pop("sink")) if d.get("sink") else None
    d.pop("sink", None)
    return DriftMonitorConf(sink=sink, **d)


def new_from_path(path: str, setting_overrides: dict | None = None) -> Conf:
    return new_from_dict(render_config(path, setting_overrides))


SCHEMA_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "static", "schemas", "config.json"
)


def schema() -> dict:
    """The machine-readable JSON Schema for the YAML surface (the
    Spark-native mirror of reference sqlflow/static/schemas/config.json,
    shipped so editors/CI can validate configs without importing us)."""
    import json

    with open(SCHEMA_PATH) as f:
        return json.load(f)


def validate_dict(conf: dict) -> list[str]:
    """Validate a rendered config against the shipped JSON schema.

    Returns human-actionable messages ("pipeline.source: 'type' is a
    required property"), empty when valid. Schema validation runs
    BEFORE dataclass parsing in ``cli validate`` so a bad config fails
    with a located message instead of a KeyError. Gated on jsonschema
    being importable (it is in this image); without it, returns [] and
    the dataclass parse remains the only check."""
    try:
        import jsonschema
    except ImportError:  # pragma: no cover - present in this image
        return []

    validator = jsonschema.Draft202012Validator(schema())
    errors = []
    for err in sorted(validator.iter_errors(conf), key=lambda e: list(e.path)):
        where = ".".join(str(p) for p in err.path) or "<root>"
        errors.append(f"{where}: {err.message}")
    return errors
