"""Corpus → dependency-graph derivation (SURVEY §2.A, §3.3).

Input (BASELINE.json input_hint): a table of source-code files
`(repo: string, path: string, commit: string, lang: string,
content: string)` — Iceberg in production, read through the
catalog seam (catalog.py); any DataFrame here.

Pipeline: scan → lang filter (A3) → sha256 audit (A2) → per-lang
import extraction (A4, vectorized) → explode (A5) → broadcast-join
the exports manifest (A6) → canonical simple edges (A7) → dense ids
(A9) → encoded edge table.

Vectorization contract ("no per-row Python", BASELINE.json input_hint):
the primary extractor is pure JVM — `regexp_extract_all` per language
dispatched with `when()`, so whole-stage codegen keeps the entire
scan→explode pipeline in one stage and Parquet column pruning reaches
the scan (only `repo, lang, content` are read). The alternate
extractor (`extract_imports_arrow`) is an Arrow-batched pandas UDF —
the fallback for languages whose grammar outgrows a regex — and tests
assert both return identical edges.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from linkgraph.graph import assign_dense_ids, canonicalize, encode_edges

SUPPORTED_LANGS = ("python", "js", "go")

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("commit", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("content", T.StringType()),
    ]
)


def read_corpus(spark, path: str, fmt: str = "parquet") -> DataFrame:
    """A1: read a corpus table from parquet / csv / json(lines) with
    the pinned schema ENFORCED at the scan (explicit schema = no
    inference pass over the data, and column pruning still reaches the
    reader). Iceberg tables go through the catalog seam instead
    (catalog.py); this covers file-drop interchange formats.

    CSV is read with multiLine+escaped quotes because `content` holds
    raw source code (embedded newlines and quotes are the norm).
    """
    want = [f.name for f in CORPUS_SCHEMA]
    if fmt == "parquet":
        df = spark.read.parquet(path)
        missing = [c for c in want if c not in df.columns]
        if missing:
            raise ValueError(f"corpus at {path} missing columns {missing}")
        return df.select(want)
    if fmt == "csv":
        # An explicit schema binds CSV columns BY POSITION and skips the
        # header unvalidated — a reordered or headerless file would load
        # silently mis-assigned. Probe the header first (reads one file's
        # first line, no data scan) and require the exact pinned order.
        header = spark.read.option("header", True).csv(path).columns
        if header != want:
            raise ValueError(
                f"corpus CSV at {path} has header {header}; "
                f"the pinned column order {want} is required"
            )
        return spark.read.csv(
            path,
            schema=CORPUS_SCHEMA,
            header=True,
            enforceSchema=False,  # EVERY file's header checked at read
            # time — the probe above validates one file; a multi-file
            # drop with one reordered straggler must also fail loudly
            multiLine=True,
            escape='"',
            mode="FAILFAST",  # malformed rows error, never null-filled
        )
    if fmt in ("json", "jsonl"):
        df = spark.read.json(path, schema=CORPUS_SCHEMA)
        # JSON with an explicit schema NULL-fills missing/misnamed
        # fields instead of erroring; probe one row so a corpus whose
        # load-bearing fields don't match fails loudly, not with zero
        # derived edges. repo and content may never be null in a valid
        # corpus row (BASELINE input_hint), so null here means the
        # field name didn't bind.
        probe = df.limit(1).first()
        if probe is not None and (probe["repo"] is None or probe["content"] is None):
            raise ValueError(
                f"corpus JSON at {path}: first row lacks repo/content — "
                f"field names must match {want}"
            )
        return df
    raise ValueError(f"unsupported corpus format {fmt!r}")

# One capture group each; (?m) anchors per line.
_PY_PAT = r"(?m)^\s*(?:from|import)\s+([A-Za-z_][A-Za-z0-9_\.]*)"
_JS_REQUIRE_PAT = r'require\(\"([^\"]+)\"\)'
_JS_IMPORT_PAT = r'(?m)^\s*import\s+[^\n\"]*?from\s+\"([^\"]+)\"'
_GO_PAT = r'import\s+\"([^\"]+)\"'


def sha256_audit(corpus: DataFrame) -> DataFrame:
    """A2: append the per-row content hash (the reference-corpus
    invariant column). JVM-side `sha2`, no Python boundary."""
    return corpus.withColumn("content_sha256", F.sha2(F.col("content"), 256))


def verify_corpus_invariant(corpus: DataFrame, expected: DataFrame) -> int:
    """Count rows whose sha256(content) differs from the recorded hash.

    `expected` has (repo, path, sha256). Returns the mismatch count
    (0 ⇒ the corpus is byte-identical to the reference corpus per row).
    Anti-join keeps this one shuffle on (repo, path).
    """
    ours = sha256_audit(corpus).select(
        "repo", "path", F.col("content_sha256").alias("sha256")
    )
    return ours.join(expected, ["repo", "path", "sha256"], "left_anti").count()


def corpus_checksum(corpus: DataFrame) -> tuple[int, int]:
    """Order-independent corpus digest: (row_count, bit_xor of xxhash64
    of per-row sha256) — commutative/associative, so it needs no global
    sort at 10^12-file scale, and XOR can't overflow under ANSI mode
    (a summed hash would). Recorded in run manifests."""
    row = sha256_audit(corpus).agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("content_sha256")).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"] or 0)


def extract_imports(corpus: DataFrame) -> DataFrame:
    """A4 primary (JVM regex): (repo, module) — one row per import."""
    modules = (
        F.when(
            F.col("lang") == "python",
            F.regexp_extract_all(F.col("content"), F.lit(_PY_PAT), F.lit(1)),
        )
        .when(
            F.col("lang") == "js",
            F.concat(
                F.regexp_extract_all(F.col("content"), F.lit(_JS_REQUIRE_PAT), F.lit(1)),
                F.regexp_extract_all(F.col("content"), F.lit(_JS_IMPORT_PAT), F.lit(1)),
            ),
        )
        .when(
            F.col("lang") == "go",
            F.regexp_extract_all(F.col("content"), F.lit(_GO_PAT), F.lit(1)),
        )
        .otherwise(F.array().cast("array<string>"))
    )
    return (
        corpus.filter(F.col("lang").isin(*SUPPORTED_LANGS))
        .select("repo", modules.alias("modules"))
        .select("repo", F.explode("modules").alias("module"))
    )


def extract_imports_arrow(corpus: DataFrame) -> DataFrame:
    """A4 fallback (Arrow-batched pandas UDF): identical output to
    `extract_imports`. Kept for languages that need real parsing; the
    batch shape (two string Series in, one list<string> Series out)
    is the template for heavier extractors."""
    import re

    pats = {
        "python": [re.compile(_PY_PAT.replace("(?m)", ""), re.M)],
        "js": [
            re.compile(_JS_REQUIRE_PAT.replace('\\"', '"')),
            re.compile(_JS_IMPORT_PAT.replace("(?m)", "").replace('\\"', '"'), re.M),
        ],
        "go": [re.compile(_GO_PAT.replace('\\"', '"'))],
    }

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def find_imports(content: pd.Series, lang: pd.Series) -> pd.Series:
        out = []
        for c, lg in zip(content, lang):
            mods: list[str] = []
            for p in pats.get(lg, ()):
                mods.extend(p.findall(c))
            out.append(mods)
        return pd.Series(out)

    return (
        corpus.filter(F.col("lang").isin(*SUPPORTED_LANGS))
        .select("repo", "content", "lang")
        .select("repo", find_imports("content", "lang").alias("modules"))
        .select("repo", F.explode("modules").alias("module"))
    )


def resolve_edges(imports: DataFrame, exports: DataFrame) -> DataFrame:
    """A6+A7: map module names to defining repos and canonicalize.

    The exports manifest has module cardinality (≈ |repos| × aliases),
    tiny next to the import stream, so the join is an explicit
    broadcast — the 10^12-row import table never shuffles here.
    Unresolvable imports (stdlib, external) drop out of the inner join.
    """
    exp = exports.select("module", F.col("repo").alias("dst_repo"))
    resolved = (
        imports.withColumnRenamed("repo", "src_repo")
        .join(F.broadcast(exp), "module")
        .select("src_repo", "dst_repo")
    )
    return resolved.filter(F.col("src_repo") != F.col("dst_repo")).distinct()


def unresolved_imports(imports: DataFrame, exports: DataFrame) -> DataFrame:
    """A6 audit: distinct modules with no exporting repo (left anti)."""
    return imports.select("module").distinct().join(
        F.broadcast(exports.select("module")), "module", "left_anti"
    )


def derive_edges(
    corpus: DataFrame, exports: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Full A1–A9 pipeline.

    Returns (edges_by_name(src_repo, dst_repo), idmap(id, repo),
    edges(src, dst) dense-encoded).
    """
    imports = extract_imports(corpus)
    # r6: pin the resolved name-edge table (lazy localCheckpoint — the
    # first consumer materializes it). It fans out into BOTH the dense-
    # id path (via verts) and the final encode join; without the pin
    # the whole scan→regex-extract→explode→resolve subtree — the
    # expensive part at corpus scale — executes once per consumer.
    edges_by_name = resolve_edges(imports, exports).localCheckpoint(eager=False)
    verts = (
        edges_by_name.select(F.col("src_repo").alias("repo"))
        .unionByName(edges_by_name.select(F.col("dst_repo").alias("repo")))
        .distinct()
    )
    idmap = assign_dense_ids(verts, "repo")
    edges = canonicalize(encode_edges(edges_by_name, idmap))
    return edges_by_name, idmap, edges
