"""Seeded benchmark inputs.

Two generators, both deterministic in ``seed`` (NumPy PCG64):

- ``acordos_raw``: the FIXTURES.md section A table, as the raw
  Google-Sheets payload (13 string columns under their original
  headers) with about 15% exact-duplicate rows, 5% malformed
  ``dd/MM/yyyy`` dates, ``'-'``/NULL sentinels, titles over 255
  characters, random case and padding on the cleaned text columns, and
  a País/Organização split.
- ``star``: the TPC-H-ish star schema of the registry keys (region,
  nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings) with the value ranges and key structure of the
  driver testdata: every foreign key points into its dimension's key
  range, 5% of documents are near-duplicates (an earlier document plus
  ``" dup"``), and events are ordered by timestamp.

Each input is written once per (name, seed) under a cache directory and
reused; callers get the paths plus rows and bytes per file.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when a generator's output changes, so stale caches rebuild
VERSION = 2

# ---------------------------------------------------------------- acordos

ACORDOS_HEADERS = [
    "Data de Celebração",
    "Parceiro",
    "Tipo de Parceiro",
    "Continente",
    "Região",
    "Local de Assinatura",
    "Tipo de Acordo",
    "Título",
    "Objetivo",
    "Recursos",
    "Tipo de Documento",
    "Vigência",
    "Link",
]

_PARCEIROS = [
    "argentina", "alemanha", "angola", "austrália", "bolívia", "canadá",
    "chile", "china", "colômbia", "coreia do sul", "cuba", "dinamarca",
    "egito", "espanha", "estados unidos", "frança", "guiné-bissau",
    "índia", "itália", "japão", "méxico", "moçambique", "noruega",
    "paraguai", "peru", "portugal", "reino unido", "rússia", "suécia",
    "timor-leste", "uruguai", "venezuela", "organização das nações unidas",
    "banco mundial", "unesco", "organização mundial da saúde",
    "mercosul", "união europeia", "fao", "organização dos estados americanos",
]
_CONTINENTES = [
    "américa do sul", "américa do norte", "europa", "áfrica", "ásia",
    "oceania", "américa central",
]
_REGIOES = [
    "cone sul", "andes", "caribe", "península ibérica", "europa ocidental",
    "escandinávia", "áfrica austral", "áfrica ocidental", "sudeste asiático",
    "leste asiático", "sul da ásia", "oriente médio", "pacífico sul",
    "américa do norte", "europa oriental",
]
_LOCAIS = [
    "brasília", "são paulo", "rio de janeiro", "buenos aires", "lisboa",
    "madri", "paris", "roma", "genebra", "nova york", "washington",
    "pequim", "tóquio", "nova délhi", "luanda", "maputo", "santiago",
    "lima", "bogotá", "montevidéu", "assunção", "la paz", "havana",
    "cidade do méxico", "ottawa", "londres", "berlim", "oslo",
    "estocolmo", "copenhague", "moscou", "díli", "bissau", "cairo",
    "camberra", "seul", "caracas", "bruxelas", "viena", "haia",
]
_TIPOS_ACORDO = [
    "cooperação técnica", "comércio", "cultura", "educação", "saúde",
    "ciência e tecnologia",
]
_RECURSOS = ["orçamento próprio", "sem custo", "fundo multilateral",
             "financiamento externo", "contrapartida"]
_DOCUMENTOS = ["acordo", "memorando de entendimento", "protocolo",
               "ajuste complementar", "declaração conjunta"]
_WORDS = [
    "acordo", "cooperação", "técnica", "entre", "o", "governo", "da",
    "república", "federativa", "do", "brasil", "e", "sobre", "área",
    "d'água", "sino-brasileiro", "programa", "intercâmbio", "científico",
    "desenvolvimento", "sustentável", "agrícola", "formação", "recursos",
    "humanos", "energia", "renovável", "proteção", "ambiental",
    "médio-prazo", "saúde", "pública", "educação", "básica", "cultural",
]
_BAD_DATES = np.array(
    ["31/02/2020", "n/a", "", "2020-05-17", "32/01/2019", "15/13/2018"]
)


def _dates(rng: np.random.Generator, n: int, bad_share: float) -> np.ndarray:
    """``dd/MM/yyyy`` strings, *bad_share* of them malformed."""
    days = rng.integers(0, 365 * 34, n).astype("timedelta64[D]")
    iso = (np.datetime64("1990-01-01") + days).astype(str)  # yyyy-mm-dd
    out = np.array([f"{s[8:10]}/{s[5:7]}/{s[:4]}" for s in iso], dtype=object)
    bad = rng.random(n) < bad_share
    out[bad] = rng.choice(_BAD_DATES, int(bad.sum()))
    return out


def _enum(rng, n, values, null_share, dash_share) -> np.ndarray:
    out = np.array(values, dtype=object)[rng.integers(0, len(values), n)]
    u = rng.random(n)
    out[u < null_share] = None
    out[(u >= null_share) & (u < null_share + dash_share)] = "-"
    return out


def _messy_case(rng, col: np.ndarray) -> np.ndarray:
    """Random case and space padding, which silver's trim+initcap undo."""
    out = col.copy()
    style = rng.integers(0, 6, len(col))
    for i, v in enumerate(col):
        if v is None or v == "-":
            continue
        s = style[i]
        if s == 1:
            v = v.upper()
        elif s == 2:
            v = v.title()
        if s == 3:
            v = "  " + v
        elif s == 4:
            v = v + "   "
        out[i] = v
    return out


def _free_text(rng, n, lo, hi) -> np.ndarray:
    lens = rng.integers(lo, hi, n)
    words = np.array(_WORDS, dtype=object)
    return np.array(
        [" ".join(words[rng.integers(0, len(words), k)]) for k in lens],
        dtype=object,
    )


def gen_acordos(seed: int, rows: int) -> pa.Table:
    """The raw acordos payload: *rows* rows, ~15% of them exact
    duplicates of others and ~5% copies that differ only in columns
    silver drops or cleans (so they collapse after silver)."""
    rng = np.random.default_rng([seed, 1])
    n_dup = int(rows * 0.15)
    n_near = int(rows * 0.05)
    n = rows - n_dup - n_near
    titles = _free_text(rng, n, 3, 40)
    long_ = rng.random(n) < 0.08
    titles[long_] = _free_text(rng, int(long_.sum()), 45, 80)
    tipo = np.where(rng.random(n) < 0.58, "País", "Organização").astype(object)
    tipo[rng.random(n) < 0.04] = None
    cols = {
        "Data de Celebração": _dates(rng, n, 0.05),
        "Parceiro": _messy_case(rng, _enum(rng, n, _PARCEIROS, 0.03, 0.02)),
        "Tipo de Parceiro": tipo,
        "Continente": _messy_case(rng, _enum(rng, n, _CONTINENTES, 0.1, 0.1)),
        "Região": _messy_case(rng, _enum(rng, n, _REGIOES, 0.1, 0.1)),
        "Local de Assinatura": _messy_case(
            rng, _enum(rng, n, _LOCAIS, 0.05, 0.05)
        ),
        "Tipo de Acordo": _enum(rng, n, _TIPOS_ACORDO, 0.05, 0.05),
        "Título": titles,
        "Objetivo": _enum(
            rng, n, list(_free_text(rng, 50, 4, 20)), 0.1, 0.1
        ),
        "Recursos": _enum(rng, n, _RECURSOS, 0.05, 0.05),
        "Tipo de Documento": _enum(rng, n, _DOCUMENTOS, 0.05, 0.05),
        "Vigência": _dates(rng, n, 0.1),
        "Link": np.array(
            [f"https://www.gov.br/acordos/{i}" for i in range(n)],
            dtype=object,
        ),
    }
    # near copies: same row, new link/vigência and re-messed parceiro
    near = rng.integers(0, n, n_near)
    for h in ACORDOS_HEADERS:
        cols[h] = np.concatenate([cols[h], cols[h][near]])
    cols["Link"][n:] = [f"https://www.gov.br/acordos/{n + i}"
                        for i in range(n_near)]
    cols["Vigência"][n:] = _dates(rng, n_near, 0.1)
    cols["Parceiro"][n:] = _messy_case(rng, cols["Parceiro"][near])
    # exact duplicates, then a global shuffle
    dup = rng.integers(0, n + n_near, n_dup)
    order = rng.permutation(rows)
    return pa.table({
        h: pa.array(np.concatenate([cols[h], cols[h][dup]])[order],
                    type=pa.string())
        for h in ACORDOS_HEADERS
    })


# ------------------------------------------------------------------- star

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _ts(base: str, days: np.ndarray) -> pa.Array:
    t0 = np.datetime64(base, "us")
    return pa.array(t0 + (days * 86_400_000_000).astype("timedelta64[us]"))


def gen_star(seed: int, sf: float) -> dict[str, pa.Table]:
    """The registry's ten tables at scale factor *sf* (sf 0.1 ≈ 600k
    lineitem rows, 20k events)."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    # a fifth of the driver testdata's events-per-sf: the streaming key
    # replays the whole table every pass, and at full ratio it alone
    # would take most of a registry pass
    n_ev = max(10, int(200_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_doc = max(20, int(50_000 * sf))
    n_emb = max(20, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(values, n):
        return np.array(values, dtype=object)[rng.integers(0, len(values), n)]

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                              "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    adj = ["large", "hot", "blue", "cold", "red", "small", "new", "old"]
    noun = ["ring", "bolt", "plate", "gear", "rod", "anvil", "widget", "gizmo"]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(
            np.array(adj)[rng.integers(0, 8, n_part)], " "),
            np.array(noun)[rng.integers(0, 8, n_part)]).astype(object),
        "p_brand": np.char.add(
            "Brand#", rng.integers(1, 26, n_part).astype(str)
        ).astype(object),
        "p_type": pick(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL",
                        "MEDIUM"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["O", "F", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["O", "F"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li)),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ev_us.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pick(["signup", "click", "error", "view", "purchase"],
                           n_ev),
        "value": np.round(np.minimum(rng.gamma(1.5, 25.0, n_ev), 560.0), 2),
        "props": np.char.add(np.char.add(
            '{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}"
        ).astype(object),
    })
    words = np.array(_DOC_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, n_doc)]
    near = np.flatnonzero(rng.random(n_doc) < 0.05)
    for i in near:
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    for i in np.flatnonzero(rng.random(n_doc) < 0.0016):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "en", "fr", "de", "es", "zh"],
                         dtype=object)[rng.integers(0, 7, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.01, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.astype(np.float32).ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


# ------------------------------------------------------------------ cache


def _write(tables: dict[str, pa.Table], out_dir: str) -> dict:
    files = {}
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        files[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return files


def ensure(cache_root: str, kind: str, seed: int, scale: float) -> dict:
    """Generate (once) and describe the *kind* input for *seed*.

    Returns ``{"dir", "files": {name: {"rows", "bytes"}}, "gen_s"}``;
    ``gen_s`` is 0 when the cache already held the input.
    """
    import time

    out_dir = os.path.join(
        cache_root, f"{kind}-v{VERSION}-scale{scale:g}-seed{seed}"
    )
    stamp = os.path.join(out_dir, "_INPUT.json")
    if os.path.exists(stamp):
        with open(stamp, encoding="utf-8") as fh:
            meta = json.load(fh)
        return {"dir": out_dir, "files": meta["files"], "gen_s": 0.0}
    t0 = time.perf_counter()
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    if kind == "acordos":
        tables = {"acordos_raw": gen_acordos(seed, int(scale))}
    else:
        tables = gen_star(seed, scale)
    files = _write(tables, tmp)
    with open(os.path.join(tmp, "_INPUT.json"), "w", encoding="utf-8") as fh:
        json.dump({"files": files, "seed": seed, "scale": scale}, fh)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return {"dir": out_dir, "files": files, "gen_s": time.perf_counter() - t0}
