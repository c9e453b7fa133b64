"""S1 — grafted derivation: ``code_files`` → (concepts, raw_edges).

Maps the code-repo source table (BASELINE input_hint) onto the reference's
two-table shape (SURVEY §1.5) so every downstream stage is domain-agnostic.
All transforms are built-in JVM expressions (``xxhash64``, ``sha2``,
``split``, ``regexp_extract_all`` …) — strictly faster than even Arrow UDFs;
no per-row Python anywhere.

Concept mapping (SURVEY §1.5):
  concept_id        = abs(xxhash64(repo‖path‖commit)) as decimal string
  concept_name      = last path segment
  vocabulary_id     = lang            (the skew analog)
  domain_id         = repo
  concept_class_id  = file extension  ('dir' for directory concepts)
  concept_code      = path
  standard_concept  = 'S'
  src_sha256        = sha2(content, 256)   (the per-row invariant)
  import_toks       = the file's ``import pkgN.modM`` tokens (edge input)

Directory concepts are synthesized for every path prefix (vocabulary_id=''
→ 'Metadata' partition, reference X8 semantics) so containment 'Is a'
edges resolve to real subjects.

``content`` is read once, by the concept projection.  Edges derive from
the concepts frame alone, in concept_relationship's schema so S2+ apply
as-is:
  - containment: file →('Is a')→ parent dir →('Is a')→ grandparent …
  - same-content: rows sharing sha256(content) → star 'Maps to' edges to
    the group's min concept_id (CC input; avoids O(k²) pair blowup)
  - imports: ``import pkgN.modM`` lines matched per-repo against module
    stems (equi-join; unresolvable imports drop — dangling-object asymmetry
    R7 allows objects without concept rows, but we need a real id to emit)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_IMPORT_RE = r"import\s+(pkg\d+\.mod\d+)"


def _file_concept_id() -> F.Column:
    return F.abs(
        F.xxhash64(F.col("repo"), F.col("path"), F.col("commit"))
    ).cast("string")


def _dir_concept_id(repo: F.Column, dirpath: F.Column) -> F.Column:
    return F.abs(F.xxhash64(repo, dirpath, F.lit("dir"))).cast("string")


def derive_file_concepts(code_files: DataFrame) -> DataFrame:
    """File-row concepts only — stateless (streaming-safe).

    The ``import_toks`` array column (the per-file import tokens) is
    extracted in the SAME projection as the sha256, so ``content``, the
    dominant column at 100 TB, is scanned exactly once for the whole
    pipeline.  Column pruning drops the regex from any plan that never
    reads ``import_toks`` (the streaming ingest, the s3 emission)."""
    content = F.coalesce(F.col("content"), F.lit(""))
    return code_files.select(
        _file_concept_id().alias("concept_id"),
        F.element_at(F.split(F.col("path"), "/"), -1).alias("concept_name"),
        F.col("repo").alias("domain_id"),
        F.col("lang").alias("vocabulary_id"),
        F.regexp_extract(F.col("path"), r"\.([^./]+)$", 1).alias("concept_class_id"),
        F.lit("S").alias("standard_concept"),
        F.col("path").alias("concept_code"),
        F.lit("").alias("valid_start_date"),
        F.lit("").alias("valid_end_date"),
        F.lit("").alias("invalid_reason"),
        F.sha2(content, 256).alias("src_sha256"),
        # NB: a Column pattern, NOT F.expr with an interpolated regex —
        # SQL string literals eat the backslashes
        F.regexp_extract_all(content, F.lit(_IMPORT_RE), 1).alias("import_toks"),
    )


def derive_concepts(code_files: DataFrame) -> DataFrame:
    """File concepts ∪ synthesized directory concepts (batch path).

    Directory concepts need a global ``distinct`` (stateful), so the
    streaming path uses :func:`derive_file_concepts` only."""
    dirs = _dir_paths(code_files).select(
        _dir_concept_id(F.col("repo"), F.col("dirpath")).alias("concept_id"),
        F.element_at(F.split(F.col("dirpath"), "/"), -1).alias("concept_name"),
        F.col("repo").alias("domain_id"),
        F.lit("").alias("vocabulary_id"),
        F.lit("dir").alias("concept_class_id"),
        F.lit("S").alias("standard_concept"),
        F.col("dirpath").alias("concept_code"),
        F.lit("").alias("valid_start_date"),
        F.lit("").alias("valid_end_date"),
        F.lit("").alias("invalid_reason"),
        F.lit("").alias("src_sha256"),
        F.array().cast("array<string>").alias("import_toks"),
    )
    return derive_file_concepts(code_files).unionByName(dirs)


def _dir_paths(code_files: DataFrame) -> DataFrame:
    """Distinct (repo, dirpath) for every proper path prefix — built with
    ``transform(sequence(...))`` + ``explode``, no Python."""
    # NB: guard single-segment paths — sequence(1, 0) is DESCENDING [1, 0]
    # in Spark, which would fabricate a "directory" named after the file
    prefixes = F.expr(
        "CASE WHEN size(split(path, '/')) >= 2 THEN "
        "transform(sequence(1, size(split(path, '/')) - 1), "
        "k -> array_join(slice(split(path, '/'), 1, k), '/')) "
        "ELSE array() END"
    )
    return (
        code_files.select("repo", F.explode(prefixes).alias("dirpath"))
        .filter(F.col("dirpath") != "")
        .distinct()
    )


def _edge(c1: F.Column, c2: F.Column, rel: str) -> list[F.Column]:
    return [
        c1.alias("concept_id_1"),
        c2.alias("concept_id_2"),
        F.lit(rel).alias("relationship_id"),
        F.lit("").alias("valid_start_date"),
        F.lit("").alias("valid_end_date"),
        F.lit("").alias("invalid_reason"),
    ]


def derive_edges(concepts: DataFrame) -> DataFrame:
    """Containment ∪ same-sha 'Maps to' ∪ import edges, derived ENTIRELY
    from a :func:`derive_concepts` frame — zero reads of the source
    ``content`` column.

    With the concepts checkpointed as s1, the 100 TB ``content`` column is
    scanned exactly once per pipeline run; every edge family below works
    off the (narrow) checkpoint.  File rows are the ones with a non-empty
    ``src_sha256``; directory rows (synthesized, sha='') re-derive their
    parents' ids from (domain_id, concept_code) with the same
    ``_dir_concept_id`` hash.
    """
    files = concepts.filter(F.col("src_sha256") != "").select(
        F.col("concept_id").alias("cid"),
        F.col("domain_id").alias("repo"),
        F.col("concept_code").alias("path"),
        "src_sha256",
        "import_toks",
    )
    repo = F.col("repo")

    # file → immediate parent directory
    parent_dir = F.expr(
        "array_join(slice(split(path, '/'), 1, size(split(path, '/')) - 1), '/')"
    )
    file_contain = files.filter(F.size(F.split(F.col("path"), "/")) > 1).select(
        *_edge(F.col("cid"), _dir_concept_id(repo, parent_dir), "Is a")
    )

    # dir → parent dir (dir concept rows already exist — no re-distinct)
    dirs = concepts.filter(
        (F.col("src_sha256") == "") & (F.col("concept_class_id") == "dir")
    ).select(
        F.col("concept_id").alias("cid"),
        F.col("domain_id").alias("repo"),
        F.col("concept_code").alias("dirpath"),
    )
    dir_parent = F.expr(
        "array_join(slice(split(dirpath, '/'), 1, size(split(dirpath, '/')) - 1), '/')"
    )
    dir_contain = dirs.filter(
        F.size(F.split(F.col("dirpath"), "/")) > 1
    ).select(*_edge(F.col("cid"), _dir_concept_id(repo, dir_parent), "Is a"))

    # same-content equivalence: star to the group min (CC-friendly, no k²)
    hubs = files.groupBy("src_sha256").agg(
        F.min("cid").alias("hub"), F.count("*").alias("n")
    ).filter(F.col("n") > 1)
    maps_to = (
        files.join(hubs, "src_sha256")
        .filter(F.col("cid") != F.col("hub"))
        .select(*_edge(F.col("cid"), F.col("hub"), "Maps to"))
    )

    # imports: token → (repo, pkg.stem) equi-join against module stems
    imports = files.select(
        F.col("cid").alias("src_cid"),
        repo.alias("r"),
        F.explode("import_toks").alias("tok"),
    )
    # single-segment paths (root-level files) have no package dir — guard
    # the -2 access (element_at throws under ANSI) and drop them from the
    # import-target side rather than crash the stage
    parts_t = F.split(F.col("path"), "/")
    targets = files.filter(F.size(parts_t) >= 2).select(
        F.col("cid").alias("dst_cid"),
        repo.alias("r"),
        F.concat(
            F.element_at(parts_t, -2),
            F.lit("."),
            F.regexp_replace(F.element_at(parts_t, -1), r"\.[^.]+$", ""),
        ).alias("tok"),
    )
    import_edges = (
        imports.join(targets, ["r", "tok"])
        .filter(F.col("src_cid") != F.col("dst_cid"))
        .select(*_edge(F.col("src_cid"), F.col("dst_cid"), "imports"))
    )

    return file_contain.unionByName(dir_contain).unionByName(maps_to).unionByName(
        import_edges
    )
