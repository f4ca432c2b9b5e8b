"""Job configuration (reference S11: config/config.go:219-242).

The reference reads a YAML Settings file naming one source (with
tables, batch sizes, include/exclude columns, streaming toggles) and
one destination (Kafka or Transfer). Same pattern here: YAML -> typed
job spec -> plan builders. Validation mirrors config.Validate():
unknown source kinds, missing tables, and PK-violating projections
fail at load time, not mid-snapshot.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

import yaml

SOURCE_KINDS = {
    "postgresql", "mysql", "mssql", "mongodb", "dynamodb",
    "parquet", "jsonl", "csv",
}
DESTINATION_KINDS = {"kafka", "transfer", "parquet"}


@dataclass
class TableCfg:
    name: str
    schema: str = "public"
    batch_size: int = 5_000          # constants/constants.go:4
    include_columns: list[str] = field(default_factory=list)
    exclude_columns: list[str] = field(default_factory=list)
    num_partitions: int = 32

    def __post_init__(self) -> None:
        if self.include_columns and self.exclude_columns:
            raise ValueError(
                f"table {self.name}: includeColumns and excludeColumns "
                "are mutually exclusive"
            )


@dataclass
class SourceCfg:
    kind: str
    host: str = ""
    database: str = ""
    tables: list[TableCfg] = field(default_factory=list)
    streaming: bool = False
    options: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.kind not in SOURCE_KINDS:
            raise ValueError(f"unknown source kind {self.kind!r}")
        if not self.streaming and not self.tables:
            raise ValueError("snapshot source requires at least one table")


@dataclass
class DestinationCfg:
    kind: str
    topic_prefix: str = "cdc"
    path: str = ""
    options: dict[str, Any] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.kind not in DESTINATION_KINDS:
            raise ValueError(f"unknown destination kind {self.kind!r}")


@dataclass
class CurateCfg:
    """Corpus-curation job: gates -> dedup -> epoch-shuffled shards.
    The LLM-pipeline analogue of the snapshot run loop — one YAML
    block instead of a hand-written driver script."""

    lang: str = ""
    min_chars: int = 0
    max_chars: int = 0
    min_quality: float = 0.0
    dedup: str = "exact"             # exact | normalized | minhash | none
    n_shards: int = 16
    epoch: int = 0
    chunk_width: int = 0             # 0 = no chunking
    chunk_overlap: int = 0
    # "" = no split; "doc" = md5 draw per doc id; "component" = the
    # leakage-free draw per near-dup component (family never
    # straddles train/test) — shards land under <out>/<split>/
    split: str = ""
    # with split: component, read the component map from this graph
    # index's materialized cc/ artifact (neardup_cc_write) instead of
    # re-deriving minhash -> LSH -> verify -> CC per run
    component_index: str = ""
    # drop documents with a verified near-dup in this materialized
    # benchmark index (neardup_index_write over the eval corpus)
    # BEFORE dedup/sharding — decontamination at ingest (r10)
    decontaminate_index: str = ""
    # Bloom seen-set gate (r11): path to a materialized filter
    # (sketches.bloom_write). Before the gates, probe each doc id
    # and DROP maybe-seen docs (already-ingested waves); after the
    # shard write, fold this wave's survivor ids back in, so the
    # next run's probe sees them. First run creates the filter.
    # The documented tradeoff: maybe-seen includes the filter's
    # false positives (~(1-e^(-kn/m))^k, ~1e-6 at the default
    # geometry for 50k keys) — the gate trades that bounded loss
    # for screening waves with a KB-scale broadcast instead of a
    # corpus-sized anti-join against every id ever ingested.
    seen_index: str = ""

    def __post_init__(self) -> None:
        if self.dedup not in ("exact", "normalized", "minhash", "none"):
            raise ValueError(f"unknown dedup mode {self.dedup!r}")
        if self.chunk_width and self.chunk_overlap >= self.chunk_width:
            raise ValueError("chunk_overlap must be < chunk_width")
        if self.split not in ("", "doc", "component"):
            raise ValueError(f"unknown split mode {self.split!r}")


@dataclass
class IndexCfg:
    """Index-build job: materialize a searchable index from a source
    table — the retrieval analogue of the snapshot run loop. kind
    'bm25' writes the bucket-partitioned inverted index
    (retrieval.bm25_index_write); kind 'ivf' fits a KMeans coarse
    quantizer and writes the cell-partitioned ANN index
    (similarity.ivf_fit + ivf_index_write)."""

    kind: str = "bm25"               # bm25 | ivf | neardup
    n_buckets: int = 64              # bm25 term buckets
    n_clusters: int = 16             # ivf cells
    seed: int = 7
    id_column: str = "doc_id"
    text_column: str = "text"
    vector_column: str = "embedding"
    # neardup banding: the recall-tuned production point (k=128/r=8,
    # ~99% measured recall at j=0.8 — see lsh_tuning_table); pinned
    # in the index's _params.json at build, resolved by updates
    num_hashes: int = 128            # neardup: MinHash signature size
    band_size: int = 8               # neardup: LSH band width
    threshold: float = 0.8           # neardup: Jaccard verify cut
    scheme: str = "classic"          # neardup: classic | oph signatures
    components: bool = False         # neardup: also materialize cc/
    cc_buckets: int = 32             # neardup: cc/ label buckets
    # mode 'build' writes a fresh index; mode 'maintain' compacts an
    # existing one (small-files OPTIMIZE over the bucket/cell dirs —
    # bm25_index_maintain / ivf_index_maintain — or, for neardup,
    # the pointer-flip rewrite that also purges replay duplicates); mode
    # 'stream' keeps an EXISTING index fresh from a document stream
    # (the maintainer family as foreachBatch bodies; availableNow —
    # one run drains the backlog and exits, re-run on your cadence)
    mode: str = "build"              # build | maintain | stream
    max_files: int = 4               # maintain: compaction trigger
    # ivf stream mode only: run the full closed loop (index update +
    # K-row health merge + measured-drift refit with re-baselining —
    # similarity.ivf_autorefit_maintainer) instead of index updates
    # alone; health/baseline live at <index>/health and
    # <index>/baseline (nested published artifacts — atomic_dir's
    # legacy GC explicitly spares them)
    autorefit: bool = False

    def __post_init__(self) -> None:
        if self.kind not in ("bm25", "ivf", "neardup"):
            raise ValueError(f"unknown index kind {self.kind!r}")
        if self.mode not in ("build", "maintain", "stream"):
            raise ValueError(f"unknown index mode {self.mode!r}")


@dataclass
class DriftCfg:
    """Drift job: baseline a reference histogram of a column, or
    verdict the source against a published baseline (operators/
    curation.py drift_ref_write / drift_check). mode 'baseline'
    (re)publishes the reference at `<destination>/<table>/_driftref`;
    mode 'check' reads it and writes a one-row verdict."""

    value_column: str | None = None       # numeric family (histogram)
    category_column: str | None = None    # categorical family (r9)
    vector_column: str | None = None      # embedding family (r9)
    # quantile family (r10, TILE-BACKED): the verdict reads bottom-k
    # sample tiles — KB of state per key — instead of running exact
    # grouped percentiles over both full waves (the one drift member
    # whose exact form doesn't reduce to map-side partials at 100 TB;
    # drift_report_quantiles stays as the ad-hoc/audit shape)
    quantile_column: str | None = None
    group_column: str | None = None       # quantile: per-key tiles
    k: int = 128                          # quantile: tile sample width
    id_column: str | None = None          # quantile: row-identity draw
    # quantile check: path of a MAINTAINED current-tile table (a
    # `sketch:` job's output) — when set the verdict never scans the
    # source at all, it compares two published KB-sized tile tables
    tiles_path: str | None = None
    n_buckets: int = 20
    top_k: int = 50                       # categorical: top-K + OTHER
    alert_ppm: int = 50_000
    alert_delta: float = 0.05             # embedding: per-dim mean cut
    # mode 'watch' streams files landing under <source>/<table>
    # through the family's foreachBatch watch body (availableNow —
    # one run drains the backlog exactly-once and exits): one verdict
    # row PER MICRO-BATCH, replace-on-replay by batch id, at
    # <destination>/<table>/_driftwatch
    mode: str = "baseline"           # baseline | check | watch

    def __post_init__(self) -> None:
        if self.mode not in ("baseline", "check", "watch"):
            raise ValueError(f"unknown drift mode {self.mode!r}")
        chosen = [
            c
            for c in (
                self.value_column,
                self.category_column,
                self.vector_column,
                self.quantile_column,
            )
            if c is not None
        ]
        if len(chosen) != 1:
            raise ValueError(
                "drift needs exactly one of value_column / "
                "category_column / vector_column / quantile_column"
            )
        if self.tiles_path is not None and self.quantile_column is None:
            raise ValueError("tiles_path is only valid with quantile_column")


@dataclass
class SketchCfg:
    """Sketch-table job (operators/sketches.py tile family): mode
    'build' materializes the per-key tiles from the source table —
    kmv (distinct/overlap), bottomk (quantiles/previews), or cms
    (point frequencies). mode 'rebuild' is the DOCUMENTED delete
    path: the tile merges are monotone (a KMV union, a bottom-k
    containment, a CMS increment can never be un-merged), so
    right-to-be-forgotten for a maintained sketch table is a rebuild
    from the SURVIVING corpus — one `*_tiles_write` pass whose result
    equals a fresh build over what remains (test_transfer_config.py
    roundtrip). Same code path as build; the separate verb exists so
    job configs state intent and schedulers can audit that the
    deletion had its rebuild."""

    kind: str = "kmv"                # kmv | bottomk | cms
    key_columns: list[str] = field(default_factory=lambda: ["source"])
    value_column: str = "doc_id"
    k: int = 64                      # kmv hashes / bottomk sample size
    width: int = 256                 # cms counter columns
    depth: int = 4                   # cms hash rows
    id_column: str | None = None     # bottomk deterministic tie-break
    # stream mode: the jsonl/parquet field type of value_column
    # (keys stream as strings)
    value_type: str = "string"
    # mode 'stream' keeps EXISTING tiles fresh from files landing
    # under <source options.path>/<table> via the kind's maintainer
    # body (kmv/bottomk/cms_maintainer) with availableNow semantics:
    # one run drains the backlog exactly-once (checkpointed, epoch-
    # gated merges) and returns. Build the tiles first (mode: build).
    mode: str = "build"              # build | rebuild | stream

    def __post_init__(self) -> None:
        if self.kind not in ("kmv", "bottomk", "cms"):
            raise ValueError(f"unknown sketch kind {self.kind!r}")
        if self.mode not in ("build", "rebuild", "stream"):
            raise ValueError(f"unknown sketch mode {self.mode!r}")


@dataclass
class ChecksCfg:
    """Constraint gate run against the source table BEFORE anything
    publishes — the warehouse load gate the reference implies by
    deduping on PKs at flush time (writers/transfer/writer.go:329-366)
    made explicit: primary-key uniqueness + not-null, declared
    not-null columns, numeric range bounds, and a minimum row count.
    One verdict row per table lands at `<destination>/<table>/_checks`
    (append — the run history IS the audit log); with
    `fail_on_violation` the job raises instead of publishing bad
    data downstream."""

    pk: list[str] = field(default_factory=list)    # unique + not-null
    not_null: list[str] = field(default_factory=list)
    # {column: [lo, hi]} inclusive numeric bounds
    ranges: dict[str, list[float]] = field(default_factory=dict)
    min_rows: int = 0
    # freshness: the table's max(ts_column) must lag the gate's run
    # time by at most max_lag_s seconds (0 = freshness not checked) —
    # the enforcement twin of the source_freshness query
    ts_column: str | None = None
    max_lag_s: int = 0
    fail_on_violation: bool = False

    def __post_init__(self) -> None:
        for c, b in self.ranges.items():
            if len(b) != 2:
                raise ValueError(f"range for {c!r} must be [lo, hi]")
        if (self.ts_column is None) != (self.max_lag_s == 0):
            raise ValueError(
                "freshness needs both ts_column and max_lag_s (or neither)"
            )


@dataclass
class Settings:
    source: SourceCfg
    destination: DestinationCfg
    curate: CurateCfg | None = None
    index: IndexCfg | None = None
    drift: DriftCfg | None = None
    sketch: SketchCfg | None = None
    checks: ChecksCfg | None = None


def load_settings(path_or_str: str) -> Settings:
    """Accepts a filesystem path or a YAML document string."""
    try:
        with open(path_or_str) as f:
            raw = yaml.safe_load(f)
    except (OSError, ValueError):
        raw = yaml.safe_load(path_or_str)
    if not isinstance(raw, dict) or "source" not in raw or "destination" not in raw:
        raise ValueError("config must define 'source' and 'destination'")
    src = dict(raw["source"])
    tables = [
        TableCfg(**t) if isinstance(t, dict) else TableCfg(name=t)
        for t in src.pop("tables", [])
    ]
    source = SourceCfg(tables=tables, **src)
    destination = DestinationCfg(**raw["destination"])
    curate = CurateCfg(**raw["curate"]) if raw.get("curate") else None
    index = IndexCfg(**raw["index"]) if raw.get("index") else None
    drift = DriftCfg(**raw["drift"]) if raw.get("drift") else None
    sketch = SketchCfg(**raw["sketch"]) if raw.get("sketch") else None
    checks = ChecksCfg(**raw["checks"]) if raw.get("checks") else None
    return Settings(
        source=source, destination=destination, curate=curate, index=index,
        drift=drift, sketch=sketch, checks=checks,
    )
