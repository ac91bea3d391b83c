"""Corpus materializer: the benchmark's own copy of the sf0.1 corpus, under
`.bench_build/data/sf0.1/corpus`, cached by the content of its source files.

Beside the copy sits `corpus.json`: its on-disk bytes (the `write_amp`
denominator) and the row count of every table.
"""
import hashlib
import json
import os
import re
import shutil

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def source_dir(root):
    """The sf0.1 corpus: `PERFBENCH_SF01`, else the directory the
    repository's TESTDATA.md lists for sf 0.1."""
    d = os.environ.get("PERFBENCH_SF01")
    if not d:
        with open(os.path.join(root, "TESTDATA.md"), encoding="utf-8") as fh:
            m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", fh.read(), re.M)
        if not m:
            raise SystemExit("corpus: TESTDATA.md names no sf0.1 directory "
                             "(set PERFBENCH_SF01)")
        d = m.group(1)
    missing = [t for t in TABLES
               if not os.path.isfile(os.path.join(d, f"{t}.parquet"))]
    if missing:
        raise SystemExit(f"corpus: sf0.1 source {d} lacks {missing} "
                         "(set PERFBENCH_SF01 to its directory)")
    return d


def content_key(src):
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(src, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def describe(d):
    import duckdb
    con = duckdb.connect()
    rows = {t: con.execute(
        f"SELECT count(*) FROM '{d}/{t}.parquet'").fetchone()[0]
        for t in TABLES}
    size = sum(os.path.getsize(os.path.join(d, f"{t}.parquet"))
               for t in TABLES)
    return {"bytes": size, "rows": rows}


def materialize(root):
    """Return (corpus dir, corpus.json record), copying the corpus if its
    cached copy is missing or was made from different source bytes."""
    src = source_dir(root)
    key = content_key(src)
    base = os.path.join(root, ".bench_build", "data", "sf0.1")
    out = os.path.join(base, "corpus")
    meta = os.path.join(base, "corpus.json")
    if os.path.exists(meta):
        rec = json.load(open(meta))
        if rec.get("key") == key:
            return out, rec
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(out)
    for t in TABLES:
        shutil.copyfile(os.path.join(src, f"{t}.parquet"),
                        os.path.join(out, f"{t}.parquet"))
    rec = describe(out)
    rec["key"] = key
    with open(meta, "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
    return out, rec
