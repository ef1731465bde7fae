"""Seeded generator of reference-layout workbooks, with expected counts.

Rows follow the reference workbook's 20-column layout, cell types and
value rates as FIXTURES.md §A1 profiles them (1200 rows): formatted
CPFs (5/1200 are CNPJs), 2/1200 rows repeating an earlier key,
``Celulares``/``Telefones`` as float64 numeric cells with 135 and 448
NULLs per 1200, 33/1200 NULL ``Emails``, ``Status`` 1085 "Velocidade
Reduzida" to 115 "Ativo". The reference has no NULL ``UF``, ``Plano`` or
``Vencimento``; the pipeline defaults them, so each is NULL at
``DEFAULT_SHARE`` to exercise those defaults.

:func:`expected_counts` derives the four table counts from the rows in
plain Python, following the pipeline's documented rules (digits-only
CPF, earliest ``Data Cadastro`` then name wins a duplicate key, NULL
plan -> ``Plano Desconhecido``, NULL contacts are dropped). It never
runs the engine, so a count the engine gets wrong shows as a mismatch.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import re

HEADERS = [
    "Nome/Razão Social", "Nome Fantasia", "CPF/CNPJ", "Data Nasc.",
    "Data Cadastro cliente", "Celulares", "Telefones", "Emails", "Endereço",
    "Número", "Complemento", "Bairro", "CEP", "Cidade", "UF", "Plano",
    "Plano Valor", "Vencimento", "Status", "Isento",
]
_COL = {h: i for i, h in enumerate(HEADERS)}

# shares measured on the reference workbook (FIXTURES.md §A1, n=1200)
_REF = 1200
DUP_SHARE = 2 / _REF
CNPJ_SHARE = 5 / _REF
REDUCED_SPEED_SHARE = 1085 / _REF  # Status "Velocidade Reduzida", else "Ativo"
NULL_SHARE = {
    "Nome Fantasia": 1199 / _REF,
    "Data Nasc.": 479 / _REF,
    "Celulares": 135 / _REF,
    "Telefones": 448 / _REF,
    "Emails": 33 / _REF,
    "Endereço": 2 / _REF,
    "Complemento": 75 / _REF,
    "CEP": 1 / _REF,
    "Isento": 1194 / _REF,
}
# not NULL in the reference; NULL here so the pipeline's defaults run
DEFAULT_SHARE = 0.02

_STATES = [
    "Acre", "Alagoas", "Amapá", "Amazonas", "Bahia", "Ceará", "Distrito Federal",
    "Espírito Santo", "Goiás", "Maranhão", "Mato Grosso", "Mato Grosso do Sul",
    "Minas Gerais", "Pará", "Paraíba", "Paraná", "Pernambuco", "Piauí",
    "Rio de Janeiro", "Rio Grande do Norte", "Rio Grande do Sul", "Rondônia",
    "Roraima", "Santa Catarina", "São Paulo", "Sergipe", "Tocantins",
]
_CITIES = ["Recife", "Curitiba", "Campinas", "Salvador", "Fortaleza", "Olinda"]
# 16 plan codes in the reference's pattern, e.g. 50MB_PLA_ITA_FIBRA_99_NOVO
_PLANS = [(f"{mb}MB_PLA_{city}_FIBRA_{price}_NOVO", float(price) + 0.9)
          for mb, price in ((50, 99), (100, 119), (300, 149), (500, 199))
          for city in ("ITA", "REC", "OLI", "JAB")]
_DEFAULT_PLAN = "Plano Desconhecido"
_NOON = dt.time(12, 0)


def _key(rng: random.Random) -> str:
    """A formatted CPF or, at ``CNPJ_SHARE``, a formatted CNPJ."""
    if rng.random() < CNPJ_SHARE:
        d = "".join(str(rng.randrange(10)) for _ in range(14))
        return f"{d[:2]}.{d[2:5]}.{d[5:8]}/{d[8:12]}-{d[12:]}"
    d = "".join(str(rng.randrange(10)) for _ in range(11))
    return f"{d[:3]}.{d[3:6]}.{d[6:9]}-{d[9:]}"


def _phone(rng: random.Random, mobile: bool) -> float:
    """Country code, area code and number as one float, as the
    reference's float64 phone cells hold them (``5.581004e+12``)."""
    ddd = rng.choice((11, 41, 71, 81, 85))
    number = rng.randrange(900_000_000, 1_000_000_000) if mobile else \
        rng.randrange(30_000_000, 40_000_000)
    return float(f"55{ddd}{number}")


def generate(seed: int, n_rows: int) -> list[list]:
    """``n_rows`` workbook rows; ``round(n_rows * DUP_SHARE)`` of them
    repeat an earlier customer's key with another sign-up date."""
    rng = random.Random(seed)
    dups = set(rng.sample(range(1, n_rows), round(n_rows * DUP_SHARE))) if n_rows > 1 else set()
    rows: list[list] = []
    for i in range(n_rows):
        key = rows[rng.randrange(i)][_COL["CPF/CNPJ"]] if i in dups else _key(rng)
        plan = rng.choice(_PLANS)
        signup = dt.date(2018, 1, 1) + dt.timedelta(days=rng.randrange(2000))
        birth = dt.date(1950, 1, 1) + dt.timedelta(days=rng.randrange(20000))

        def cell(col: str, value, share: float | None = None):
            return None if rng.random() < (NULL_SHARE[col] if share is None else share) else value

        cep = f"{rng.randrange(10_000_000, 100_000_000)}"
        rows.append([
            f"Cliente {seed}-{i:06d}",
            cell("Nome Fantasia", f"Fantasia {i}"),
            key,
            cell("Data Nasc.", dt.datetime.combine(birth, _NOON)),
            dt.datetime.combine(signup, _NOON),
            cell("Celulares", _phone(rng, True)),
            cell("Telefones", _phone(rng, False)),
            cell("Emails", f"c{seed}.{i}@example.com"),
            cell("Endereço", f"Rua {rng.randrange(500)}"),
            str(rng.randrange(1, 3000)),
            cell("Complemento", f"quadra {rng.randrange(1, 100)},lote {rng.randrange(1, 40)}"),
            "Centro",
            cell("CEP", cep if rng.random() < 0.5 else f"{cep[:5]}-{cep[5:]}"),
            rng.choice(_CITIES),
            cell("UF", rng.choice(_STATES), DEFAULT_SHARE),
            cell("Plano", plan[0], DEFAULT_SHARE),
            plan[1],
            cell("Vencimento", rng.choice((5, 10, 15, 20, 25)), DEFAULT_SHARE),
            "Velocidade Reduzida" if rng.random() < REDUCED_SPEED_SHARE else "Ativo",
            cell("Isento", "Sim"),
        ])
    return rows


def _digits(s: str) -> str:
    return re.sub(r"\D", "", s)


def expected_counts(rows: list[list]) -> dict[str, int]:
    """Row counts of the four loaded tables, computed from ``rows``."""
    survivors: dict[str, list] = {}
    for row in rows:
        key = _digits(row[_COL["CPF/CNPJ"]])
        rank = (row[_COL["Data Cadastro cliente"]].date(), row[_COL["Nome/Razão Social"]])
        held = survivors.get(key)
        if held is None or rank < held[0]:
            survivors[key] = (rank, row)
    planos, contatos = set(), 0
    for _, row in survivors.values():
        planos.add(row[_COL["Plano"]] or _DEFAULT_PLAN)
        contatos += sum(row[_COL[col]] is not None
                        for col in ("Telefones", "Celulares", "Emails"))
    return {
        "tbl_planos": len(planos),
        "tbl_clientes": len(survivors),
        "tbl_cliente_contratos": len(survivors),
        "tbl_cliente_contatos": contatos,
    }


def write_workbooks(out_dir: str, rows: list[list], n_files: int) -> list[str]:
    """Split ``rows`` into ``n_files`` workbooks written with
    ``xlsx_stdlib.write_xlsx``; returns their paths."""
    from etl_xlsx_potgres_spark.sources.xlsx_stdlib import write_xlsx

    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(rows) // n_files)
    return [
        write_xlsx(os.path.join(out_dir, f"clientes_{k}.xlsx"), HEADERS,
                   rows[k * per:(k + 1) * per])
        for k in range(n_files)
    ]
