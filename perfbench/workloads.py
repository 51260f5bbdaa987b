"""Seeded inputs, CLI arguments and output checks for the four workloads.

Generation runs in the orchestrator, before any Spark session exists:
the reference-shaped rows come from ``plans.fixtures`` (called with a
row-capturing stand-in for the session, so no JVM starts) or from
numpy, and are written with pyarrow or the csv module. The program
receives only these files.

Every check reads the CLI's outputs back with pyarrow/csv/json, not
Spark, and compares them with expectations derived from the generated
rows. A check returns a list of problems (empty = pass) plus an
order-insensitive digest per output directory.
"""

from __future__ import annotations

import csv
import glob
import hashlib
import json
import os
import random
import re
from dataclasses import dataclass, field
from types import SimpleNamespace
from typing import Callable

# ---------------------------------------------------------------- sizes
BDC_STUDIES = 300
HEAL_STUDIES = 200
HEAL_FANOUT = 20
INDEX_STUDIES = 10_000
INDEX_ROWS = 1_000_000
INDEX_REPOS = ["anvil", "bdc", "crdc", "heal", "kf"]
DEDUP_DOCS = 5000
DEDUP_COPIES = 250

VOCAB = (
    "a the data spark stream table row column key value join group sort "
    "scan filter query batch window hash merge order part line fast slow "
    "big small agg vector customer index shuffle plan stage task cache "
    "study variable field"
).split()


@dataclass
class Inputs:
    """What generation hands to the run: CLI input paths, the input row
    count (for rows_per_s) and the expectations the checks compare with."""

    paths: dict[str, str]
    rows: int
    expect: dict = field(default_factory=dict)


class _RowCapture:
    """Stands in for a SparkSession in plans.fixtures: returns the rows
    and schema the fixture would have turned into a DataFrame."""

    def createDataFrame(self, rows, schema):  # noqa: N802 - Spark's name
        return rows, schema


# ------------------------------------------------------------- writing
def _arrow_type(dtype):
    import pyarrow as pa
    from pyspark.sql import types as T

    if isinstance(dtype, T.StringType):
        return pa.string()
    if isinstance(dtype, T.DoubleType):
        return pa.float64()
    if isinstance(dtype, T.IntegerType):
        return pa.int32()
    if isinstance(dtype, T.LongType):
        return pa.int64()
    if isinstance(dtype, T.BooleanType):
        return pa.bool_()
    if isinstance(dtype, T.ArrayType):
        return pa.list_(_arrow_type(dtype.elementType))
    if isinstance(dtype, T.MapType):
        return pa.map_(_arrow_type(dtype.keyType), _arrow_type(dtype.valueType))
    raise TypeError(f"no arrow mapping for {dtype}")


def _write_parquet(rows, schema, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {}
    for i, f in enumerate(schema.fields):
        vals = [r[i] for r in rows]
        if f.dataType.typeName() == "map":
            vals = [None if v is None else list(v.items()) for v in vals]
        cols[f.name] = pa.array(vals, type=_arrow_type(f.dataType))
    pq.write_table(pa.table(cols), path)


def _write_csv(rows, schema, path: str) -> None:
    """CSV as the reference's ingest.sh hands it between stages: a
    header, booleans as true/false, None and "" both empty fields."""
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow([f.name for f in schema.fields])
        for r in rows:
            w.writerow(
                ["" if v is None else ("true" if v is True else "false" if v is False else v)
                 for v in r]
            )


# ------------------------------------------------------------- reading
def _read_parquet_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def _read_csv_rows(path: str) -> tuple[list[str], list[list[str]]]:
    header, rows = [], []
    for part in sorted(glob.glob(f"{path}/part-*")):
        with open(part, newline="") as fh:
            r = list(csv.reader(fh))
        if r:
            header, rows = r[0], rows + r[1:]
    return header, rows


def _read_json_rows(path: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(f"{path}/part-*")):
        with open(part) as fh:
            rows += [json.loads(line) for line in fh if line.strip()]
    return rows


def digest(rows) -> str:
    """Order-insensitive multiset digest: the sum of per-row hashes, so
    a dropped, duplicated or changed row changes it and row order or
    file split does not."""
    total = 0
    for r in rows:
        h = hashlib.sha256(json.dumps(r, sort_keys=True, default=str).encode())
        total = (total + int.from_bytes(h.digest()[:16], "big")) % (1 << 128)
    return f"{total:032x}"


def _blank(v) -> bool:
    return v is None or str(v).strip() == ""


# ----------------------------------------------------------------- bdc
def gen_bdc(seed: int, d: str) -> Inputs:
    from dug_data_ingest_spark.plans import fixtures as FX

    studies, s_schema = FX.gen3_studies(_RowCapture(), BDC_STUDIES, seed=seed)
    variables, v_schema = FX.picsure_variables(_RowCapture(), BDC_STUDIES, seed=seed + 1)
    paths = {"gen3": f"{d}/gen3.csv", "picsure": f"{d}/picsure.csv"}
    _write_csv(studies, s_schema, paths["gen3"])
    _write_csv(variables, v_schema, paths["picsure"])
    # the validation and cleaning rules of plans.bdc, restated over the
    # rows as they read back from CSV ("" reads as null)
    valid = set()
    for acc, _consent, name, _prog, _mod, _notes, desc in studies:
        if not (_blank(acc) or _blank(name) or _blank(desc)) and re.match(r"phs\d+", acc):
            valid.add(acc.split(".")[0])
    groups = {
        (r[0].split(".")[0], r[1])
        for r in variables
        if all(not _blank(r[i]) for i in (0, 1, 2, 3, 5)) and r[2].startswith("phv")
    }
    groups = {g for g in groups if g[0] in valid}
    return Inputs(
        paths,
        len(studies) + len(variables),
        {
            "gen3_rows": len(studies),
            "valid": len(valid),
            "docs": len(groups),
            "success": len({g[0] for g in groups}),
        },
    )


def check_bdc(out: str, inp: Inputs) -> tuple[list[str], dict, int]:
    e = inp.expect
    xml = _read_parquet_rows(f"{out}/dbgap_xml")
    s_head, summary = _read_csv_rows(f"{out}/processing_summary")
    q_head, quarantine = _read_csv_rows(f"{out}/quarantine")
    problems = []
    if len(summary) + len(quarantine) != e["gen3_rows"]:
        problems.append(f"valid {len(summary)} + quarantine {len(quarantine)} != gen3 {e['gen3_rows']}")
    if len(summary) != e["valid"]:
        problems.append(f"summary rows {len(summary)} != valid studies {e['valid']}")
    status = s_head.index("status") if "status" in s_head else 0
    success = {r[0] for r in summary if r[status] == "SUCCESS"}
    xml_studies = {r["study_id"] for r in xml}
    if len(success) != len(xml_studies) or len(success) != e["success"]:
        problems.append(
            f"SUCCESS studies {len(success)} != xml studies {len(xml_studies)} (expected {e['success']})"
        )
    if len(xml) != e["docs"] or len({(r["study_id"], r["dd_id"]) for r in xml}) != len(xml):
        problems.append(f"xml docs {len(xml)} != data tables {e['docs']}")
    digests = {
        "dbgap_xml": digest(xml),
        "processing_summary": digest([s_head] + summary),
        "quarantine": digest([q_head] + quarantine),
    }
    return problems, digests, len(xml)


# ----------------------------------------------------------- heal-wide
def gen_heal(seed: int, d: str) -> Inputs:
    from dug_data_ingest_spark.plans import fixtures as FX

    studies, s_schema = FX.heal_studies(_RowCapture(), HEAL_STUDIES, seed=seed)
    base, f_schema = FX.heal_fields(_RowCapture(), HEAL_STUDIES, seed=seed + 1)
    mapping, m_schema = FX.hdp_mapping(_RowCapture(), HEAL_STUDIES * 3 // 4, seed=seed + 2)
    # fan each field row out into HEAL_FANOUT rows with distinct names,
    # descriptions and ords, keeping the fixture's duplicate-name mix
    fields = []
    for r in base:
        for j in range(HEAL_FANOUT):
            row = list(r)
            row[2] = None if r[2] is None else f"{r[2]}_x{j}"
            row[3] = None if r[3] is None else f"{r[3]}_x{j}"
            row[8] = f"{r[8]} #{j}"
            row[15] = r[15] * HEAL_FANOUT + j
            fields.append(tuple(row))
    paths = {k: f"{d}/{k}.parquet" for k in ("studies", "fields", "mapping")}
    _write_parquet(studies, s_schema, paths["studies"])
    _write_parquet(fields, f_schema, paths["fields"])
    _write_parquet(mapping, m_schema, paths["mapping"])
    links = [(s[0], dd) for s in studies if s[6] for dd in s[6].values() if dd is not None]
    field_dds = {(f[0], f[1]) for f in fields}
    fetched = {dd for _, dd in field_dds}
    strays = [lk for lk in links if lk[1] not in fetched]
    return Inputs(
        paths,
        len(studies) + len(fields) + len(mapping),
        {
            "field_keys": sorted((f[0], f[1], f[8]) for f in fields),
            "linked_dds": sorted({lk[1] for lk in links}),
            "links": len(links),
            "strays": len(strays),
            "docs": len(field_dds),
            "studies": len(studies),
        },
    )


def check_heal(out: str, inp: Inputs) -> tuple[list[str], dict, int]:
    e = inp.expect
    xml = _read_parquet_rows(f"{out}/dbgap_xml")
    vi_head, vi = _read_csv_rows(f"{out}/variable_index")
    st_head, strays = _read_csv_rows(f"{out}/stray_dds")
    nodes = _read_json_rows(f"{out}/kgx/nodes")
    edges = _read_json_rows(f"{out}/kgx/edges")
    problems = []
    cols = [vi_head.index(c) for c in ("study_id", "dd_id", "description")] if vi_head else []
    keys = sorted(tuple(r[i] for i in cols) for r in vi)
    if keys != [tuple(k) for k in e["field_keys"]]:
        problems.append(f"variable_index rows {len(vi)} are not the {len(e['field_keys'])} field rows once each")
    rendered = {r["dd_id"] for r in xml}
    stray_dds = {r[st_head.index("dd_id")] for r in strays} if st_head else set()
    if stray_dds | rendered != set(e["linked_dds"]):
        problems.append("stray dds + rendered dds != linked dds")
    if len(strays) != e["strays"]:
        problems.append(f"stray rows {len(strays)} != {e['strays']}")
    if len(xml) != e["docs"] or len({(r["study_id"], r["dd_id"]) for r in xml}) != len(xml):
        problems.append(f"xml docs {len(xml)} != field dds {e['docs']}")
    if len(nodes) != e["studies"]:
        problems.append(f"kgx nodes {len(nodes)} != studies {e['studies']}")
    if len(edges) != e["links"]:
        problems.append(f"kgx edges {len(edges)} != linked dds {e['links']}")
    digests = {
        "dbgap_xml": digest(xml),
        "variable_index": digest([vi_head] + vi),
        "stray_dds": digest([st_head] + strays),
        "kgx": digest(nodes + edges),
    }
    return problems, digests, len(xml)


# --------------------------------------------------------------- index
def gen_index(seed: int, d: str) -> Inputs:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    # skewed study sizes (lognormal), scaled to INDEX_ROWS occurrences
    w = rng.lognormal(0.0, 1.2, INDEX_STUDIES)
    sizes = np.maximum(1, np.floor(w / w.sum() * INDEX_ROWS)).astype(np.int64)
    study = np.repeat(np.arange(INDEX_STUDIES), sizes)
    n = len(study)
    # a home repository per study; a share of studies also appear in a
    # second one, which carries ~40% of their rows
    home = rng.integers(0, len(INDEX_REPOS), INDEX_STUDIES)
    second = (home + rng.integers(1, len(INDEX_REPOS), INDEX_STUDIES)) % len(INDEX_REPOS)
    multi = rng.random(INDEX_STUDIES) < 0.15
    moved = multi[study] & (rng.random(n) < 0.4)
    repo = np.where(moved, second[study], home[study]).astype(np.int32)
    n_dd = 1 + sizes // 150
    dd_off = np.concatenate([[0], np.cumsum(n_dd)[:-1]])
    dd = (dd_off[study] + (rng.random(n) * n_dd[study]).astype(np.int64)).astype(np.int32)
    dd_study = np.repeat(np.arange(INDEX_STUDIES), n_dd)
    dd_local = np.arange(len(dd_study)) - dd_off[dd_study]
    section = rng.integers(0, 9, n).astype(np.int32)  # 8 = null section
    section_valid = section < 8

    def dict_col(idx, names, valid=None):
        mask = None if valid is None else ~valid
        return pa.DictionaryArray.from_arrays(
            pa.array(idx, pa.int32(), mask=mask), pa.array(names, pa.string())
        ).cast(pa.string())

    table = pa.table(
        {
            "study_id": dict_col(study.astype(np.int32), [f"phs{i:06d}" for i in range(INDEX_STUDIES)]),
            "repository": dict_col(repo, INDEX_REPOS),
            "dd_id": dict_col(dd, [f"pht{s:06d}.{k}" for s, k in zip(dd_study, dd_local)]),
            "section": dict_col(section, [f"Section {k}" for k in range(9)], section_valid),
            "var_id": pa.array(np.arange(n, dtype=np.int64)),
        }
    )
    path = f"{d}/variables.parquet"
    pq.write_table(table, path, row_group_size=256 * 1024)
    return Inputs({"variables": path}, n, {"oracle": _index_oracle(path)})


def _index_oracle(path: str) -> tuple[list[str], list[list[str]]]:
    """The report as a DuckDB group-by + pivot over the same parquet,
    rendered as the CSV sink renders it (null cell = empty field)."""
    import duckdb

    con = duckdb.connect()
    try:
        counts = con.execute(
            "SELECT study_id, repository, count(DISTINCT dd_id), count(DISTINCT section), "
            f"count(*) FROM read_parquet('{path}') GROUP BY 1, 2"
        ).fetchall()
    finally:
        con.close()
    repos = sorted({r[1] for r in counts})
    cells: dict[str, dict[str, str]] = {}
    for sid, repo, n_dds, n_sec, n in counts:
        cells.setdefault(sid, {})[repo] = f"{n_dds} DDs, {n_sec} sections, {n} variables"
    rows = [
        [sid] + [cells[sid].get(r, "") for r in repos] + [str(len(cells[sid]))]
        for sid in sorted(cells)
    ]
    return ["study_id", *repos, "repository_count"], rows


def check_index(out: str, inp: Inputs) -> tuple[list[str], dict, int]:
    head, rows = _read_csv_rows(f"{out}/dbgap_xml_index")
    o_head, o_rows = inp.expect["oracle"]
    problems = []
    if head != o_head:
        problems.append(f"report header {head} != {o_head}")
    elif rows != o_rows:
        problems.append(f"report ({len(rows)} rows) != DuckDB pivot ({len(o_rows)} rows)")
    return problems, {"dbgap_xml_index": digest([head] + rows)}, 0


# --------------------------------------------------------------- dedup
def _shingles(words: list[str], k: int = 3) -> set:
    return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}


def gen_dedup(seed: int, d: str) -> Inputs:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts = [
        [rng.choice(VOCAB) for _ in range(rng.randint(10, 70))] for _ in range(DEDUP_DOCS)
    ]
    # near-duplicate copies: one token of a long source replaced, which
    # keeps word-3-shingle Jaccard near 0.9, far above the 0.8 threshold
    long_ids = [i for i, t in enumerate(texts) if len(t) >= 60]
    pairs = []
    for src in rng.sample(long_ids, min(DEDUP_COPIES, len(long_ids))):
        copy = list(texts[src])
        pos = rng.randrange(len(copy))
        copy[pos] = rng.choice([w for w in VOCAB if w != copy[pos]])
        a, b = _shingles(texts[src]), _shingles(copy)
        if len(a & b) / len(a | b) >= 0.85:
            pairs.append((src, len(texts)))
            texts.append(copy)
    text = [" ".join(t) for t in texts]
    path = f"{d}/documents.parquet"
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(text)), pa.int64()),
                "text": text,
                "lang": [rng.choice(["en", "de", "zh"]) for _ in text],
                "source": [f"src{i % 4}" for i in range(len(text))],
                "n_chars": pa.array([len(t) for t in text], pa.int64()),
            }
        ),
        path,
    )
    return Inputs({"documents": path}, len(text), {"docs": len(text), "copies": pairs})


def check_dedup(out: str, inp: Inputs) -> tuple[list[str], dict, int]:
    surv = _read_parquet_rows(f"{out}/survivors")
    head, report = _read_csv_rows(f"{out}/dedup_report")
    problems = []
    if len(report) != 1:
        problems.append(f"dedup_report has {len(report)} rows, not 1")
    else:
        r = dict(zip(head, report[0]))
        n_docs, n_surv, n_drop = (int(r[k]) for k in ("n_docs", "n_survivors", "n_dropped"))
        if n_docs != n_surv + n_drop or n_docs != inp.expect["docs"]:
            problems.append(f"n_docs {n_docs} != survivors {n_surv} + dropped {n_drop}")
        if len(surv) != n_surv:
            problems.append(f"survivors rows {len(surv)} != n_survivors {n_surv}")
    if len({s["text"] for s in surv}) != len(surv):
        problems.append("two survivors share a text")
    ids = {s["doc_id"] for s in surv}
    both = [p for p in inp.expect["copies"] if p[0] in ids and p[1] in ids]
    if both:
        problems.append(f"{len(both)} injected copies survive beside their source")
    digests = {"survivors": digest(surv), "dedup_report": digest([head] + report)}
    return problems, digests, 0


# ------------------------------------------------------------ registry
@dataclass(frozen=True)
class Workload:
    name: str
    command: str  # the cli.run_<command> entry point
    generate: Callable[[int, str], Inputs]
    check: Callable[[str, Inputs], tuple[list[str], dict, int]]
    flags: dict
    # warm runs discarded before timing: the JIT keeps compiling through
    # the first few on index (its warm wall falls ~40% over 8-10 runs), while
    # bdc is flat after one
    warmup: int = 3

    def args(self, inp: Inputs, out: str) -> SimpleNamespace:
        """The argparse namespace `python -m dug_data_ingest_spark` would
        build for this workload."""
        return SimpleNamespace(**inp.paths, out=out, **self.flags)


WORKLOADS = {
    w.name: w
    for w in (
        Workload("bdc", "bdc", gen_bdc, check_bdc, {"csv": True}, warmup=1),
        Workload("heal-wide", "heal", gen_heal, check_heal, {"csv": False}),
        Workload("index", "index", gen_index, check_index, {"csv": False, "repos": None}, warmup=8),
        Workload(
            "dedup",
            "dedup",
            gen_dedup,
            check_dedup,
            {
                "csv": False,
                "strategy": "jaccard",
                "threshold": 0.8,
                "max_doc_freq": 1000,
                "exact_jaccard": True,
                "jump": False,
            },
        ),
    )
}


def save_inputs(inp: Inputs, path: str) -> None:
    with open(path, "w") as fh:
        json.dump({"paths": inp.paths, "rows": inp.rows, "expect": inp.expect}, fh)


def load_inputs(path: str) -> Inputs:
    with open(path) as fh:
        return Inputs(**json.load(fh))


def output_bytes(out: str) -> dict[str, int]:
    """Bytes of data files per output directory (Spark's _SUCCESS and
    .crc side files excluded)."""
    sizes = {}
    for name in sorted(os.listdir(out)):
        total = 0
        for root, _dirs, files in os.walk(f"{out}/{name}"):
            total += sum(
                os.path.getsize(f"{root}/{f}") for f in files if not f.startswith((".", "_"))
            )
        sizes[name] = total
    return sizes
