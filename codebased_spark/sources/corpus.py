"""Corpus sources.

The engine's source of truth is a table of source code with schema
``(repo string, path string, commit string, lang string, content string)``
(BASELINE.json input_hint). On clusters with the Iceberg runtime this is
an Iceberg table (``spark.read.format("iceberg")``); this sandbox has no
Iceberg jars, so :func:`read_corpus` falls back to Parquet with the same
schema — the engine only sees a DataFrame either way.

Fixture corpora reproduce the reference's own test repo trees
(reference tests/test_main.py:27-212: SIMPLE_REPO_TREE,
GITIGNORE_FOLDER_TREE, HIDDEN_FOLDER_TREE, NESTED_GITIGNORE_TREE) with
gitignored/hidden/binary entries already excluded — matching the
reference's *indexing outcome* (file counts asserted at
tests/test_main.py:225-230). The gitignore walk itself (codebased/
gitignore.py) is an ingest-time concern, not an engine concern: the
corpus table is already curated.
"""

from __future__ import annotations

import hashlib
import string

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORPUS_SCHEMA = T.StructType(
    [
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
        T.StructField("content", T.StringType(), False),
    ]
)

# Extension -> language name, mirroring the reference's dispatch
# (codebased/parser.py:162-188); unknown extensions -> 'text'.
EXT_TO_LANG = {
    "py": "python",
    "rs": "rust",
    "cc": "cpp", "cpp": "cpp", "cxx": "cpp", "hpp": "cpp", "hxx": "cpp", "h": "cpp",
    "c": "c",
    "cs": "csharp",
    "go": "go",
    "java": "java",
    "js": "javascript", "mjs": "javascript", "cjs": "javascript", "jsx": "javascript",
    "php": "php",
    "rb": "ruby",
    "ts": "typescript",
    "tsx": "tsx",
}


def lang_for_path(path: str) -> str:
    ext = path.rsplit(".", 1)[-1] if "." in path.rsplit("/", 1)[-1] else ""
    return EXT_TO_LANG.get(ext, "text")


def _commit_for(repo: str) -> str:
    return hashlib.sha256(repo.encode()).hexdigest()[:40]


def _rows(repo: str, files: dict[str, str]) -> list[tuple]:
    return [
        (repo, path, _commit_for(repo), lang_for_path(path), content)
        for path, content in sorted(files.items())
    ]


# --- reference fixture trees (tests/test_main.py:27-212), post-gitignore ---

_INDEX_JS = (
    'const express = require("express");\nconst app = express();\n'
    'app.get("/", (req, res) => {\n  res.send("Hello, world!");\n});\n\n'
    "app.listen(3000, () => {\n"
    '  console.log("Server started on port 3000");\n});\n'
)
_PACKAGE_JSON = (
    '{\n  "name": "test",\n  "version": "1.0.0",\n  "description": "",\n'
    '  "main": "index.js",\n  "scripts": {\n'
    '    "test": "echo "Error: no test specified" && exit 1"\n  },\n'
    '  "author": "",\n  "license": "ISC",\n  "dependencies": {\n'
    '    "slop": "^1.0.0"\n  }\n}\n'
)

SIMPLE_REPO = _rows(
    "simple-repo",
    {
        "README.md": "Hello, world!",
        "a-directory/code.py": 'print("Hello, world!")',
    },
)

GITIGNORE_FOLDER = _rows(
    "gitignore-folder",
    {
        "README.md": "Hello, world!",
        ".gitignore": "node_modules/",
        "src/index.js": _INDEX_JS,
        "package.json": _PACKAGE_JSON,
    },
)

HIDDEN_FOLDER = _rows(
    "hidden-folder",
    {
        "README.md": "Hello, world!",
        "a-directory/code.py": 'print("Hello, world!")',
    },
)

NESTED_GITIGNORE = _rows(
    "nested-gitignore",
    {
        ".gitignore": "*.txt",
        "README.md": "Hello, world!",
        "app/.gitignore": "node_modules/",
        "app/src/index.d.ts": 'console.log("Hello, world!")',
        "app/src/index.js": 'console.log("Hello, world!");',
        "app/package.json": '{"name": "slop"}',
        "server/.gitignore": "venv/\n__pycache__/",
        "server/src/main.py": 'print("Hello, world!")',
        "server/src/__init__.py": "from .main import *",
        "server/setup.py": '{"name": "slop"}',
    },
)

ALL_FIXTURES = SIMPLE_REPO + GITIGNORE_FOLDER + HIDDEN_FOLDER + NESTED_GITIGNORE


def fixture_corpus(spark: SparkSession, rows=None) -> DataFrame:
    return spark.createDataFrame(rows or ALL_FIXTURES, CORPUS_SCHEMA)


# --- deterministic synthetic corpus (scale fixture, FIXTURES.md §6) ---

_WORDS = (
    "alpha beta gamma delta epsilon zeta theta kappa sigma omega count index "
    "value result buffer stream handler worker parser engine server client "
    "token record shard merge score query search hello world data node edge"
).split()

_TEMPLATES = {
    "python": (
        "main_{i}.py",
        '"""{w0} {w1} module."""\n\n'
        "class {C0}:\n"
        "    def __init__(self, {w1}, {w2}):\n"
        "        self.{w1} = {w1}\n"
        "        self.{w2} = {w2}\n\n"
        "{U0} = {C0}(0, 0)\n\n"
        "def {f0}():\n"
        "    x = {C0}(1, 2)\n"
        '    print("{w0} {w1}: hello world")\n'
        "    return x.{w1} + x.{w2}\n",
    ),
    "javascript": (
        "index_{i}.js",
        'const {w0}Data = "{w1} {w2}";\n'
        "export const {f0} = ({w1}) => {{\n"
        "  return {{ id: {w1}.id, {w2}: {w1}.{w2} }};\n"
        "}};\n"
        "function {f1}({w2}) {{\n"
        '  console.log("Server started on port {port}");\n'
        "  return {w2} * 2;\n"
        "}}\n",
    ),
    "go": (
        "main_{i}.go",
        "package main\n\n"
        'import "fmt"\n\n'
        "type {C0} struct {{\n\t{w1} int\n\t{w2} int\n}}\n\n"
        "func {f0}(a {C0}) int {{\n\treturn a.{w1} + a.{w2}\n}}\n\n"
        "func main() {{\n\tfmt.Println(\"{w0} {w1} hello world\")\n}}\n",
    ),
    "java": (
        "Main_{i}.java",
        "public class {C0} {{\n"
        "    private int {w1};\n"
        "    public {C0}(int {w1}) {{ this.{w1} = {w1}; }}\n"
        "    public int {f0}() {{\n"
        '        System.out.println("{w0} {w1} {w2}");\n'
        "        return {w1} * {port};\n    }}\n}}\n",
    ),
    "rust": (
        "lib_{i}.rs",
        "pub struct {C0} {{\n    pub {w1}: i64,\n    pub {w2}: i64,\n}}\n\n"
        "impl {C0} {{\n"
        "    pub fn {f0}(&self) -> i64 {{\n        self.{w1} + self.{w2}\n    }}\n}}\n\n"
        'pub fn {f1}() -> String {{\n    format!("{w0} {w1} hello world")\n}}\n',
    ),
}
_TEMPLATE_LANGS = sorted(_TEMPLATES)


def gen_file(repo_i: int, file_i: int, seed: int) -> tuple[str, str, str]:
    """Deterministic (path, lang, content) — pure function of its args."""
    h = hashlib.sha256(f"{seed}:{repo_i}:{file_i}".encode()).digest()
    lang = _TEMPLATE_LANGS[h[0] % len(_TEMPLATE_LANGS)]
    fname, tmpl = _TEMPLATES[lang]

    def word(k):
        return _WORDS[h[k] % len(_WORDS)]

    w0, w1, w2 = word(1), word(2), word(3)
    f0, f1 = f"{word(4)}_{word(5)}", f"{word(6)}_{word(7)}"
    c0 = (word(8) + word(9)).capitalize()
    u0 = word(10).upper()
    content = tmpl.format(
        i=file_i, w0=w0, w1=w1, w2=w2, f0=f0, f1=f1, C0=c0, U0=u0,
        port=3000 + (h[11] % 1000),
    )
    path = "src/" + fname.format(i=file_i)
    return path, lang, content


def gen_corpus(
    spark: SparkSession, n_repos: int, files_per_repo: int, seed: int = 42
) -> DataFrame:
    """Seeded synthetic corpus of input_hint shape, generated *on the
    executors* (distributed, no driver materialization) so it scales to
    arbitrary row counts: one task per repo-range."""
    base = spark.range(0, n_repos * files_per_repo, 1)

    def gen_batches(it):
        import pandas as pd

        for pdf in it:
            ids = pdf["id"].to_numpy()
            rows = []
            for i in ids:
                repo_i, file_i = divmod(int(i), files_per_repo)
                path, lang, content = gen_file(repo_i, file_i, seed)
                repo = f"repo-{repo_i:05d}"
                rows.append((repo, path, _commit_for(repo), lang, content))
            yield pd.DataFrame(rows, columns=CORPUS_SCHEMA.fieldNames())

    return base.mapInPandas(gen_batches, CORPUS_SCHEMA)


# --- driver testdata mapping -------------------------------------------------

def documents_as_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map the driver's ``documents.parquet`` (doc_id, text, lang, source,
    n_chars) into the corpus shape, deterministically. path/name are
    ``d%09d`` so the mapping is exactly reproducible in the DuckDB oracle
    (printf('d%09d', doc_id))."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        F.lit("docs").alias("repo"),
        F.format_string("d%09d", F.col("doc_id")).alias("path"),
        F.lit("0" * 40).alias("commit"),
        F.coalesce(F.col("lang"), F.lit("text")).alias("lang"),
        F.coalesce(F.col("text"), F.lit("")).alias("content"),
    )


def read_corpus(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Read the corpus: Iceberg table name if the catalog has it, else a
    Parquet path. Column-pruned/filtered scans push down either way."""
    try:
        return spark.read.format("iceberg").load(path_or_table)
    except Exception:
        return spark.read.parquet(path_or_table).select(
            *CORPUS_SCHEMA.fieldNames()
        )
