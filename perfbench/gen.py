"""Seeded generator for the sales pipeline's three dirty CSV inputs.

Reproduces the dirt patterns of the reference fixtures (FIXTURES.md, section
A1) at the reference's rates, scaled by `vendas_rows` with the reference's
vendas:produtos:empregados ratio of 1000:200:100:

  produtos    duplicated full rows (10 per 200 ids), every 12th name missing,
              every 7th price missing, blank categories (15 per 200)
  vendas      duplicated full rows (25 per 1000 ids), every 10th date missing,
              unit and total value missing together (77 per 1025 rows)
  empregados  duplicated full rows (8 per 100 ids), every 9th name missing,
              cargo missing (9 per 100), idade missing for ids 1, 12, 23, ...

On top of the reference's dirt it adds a few malformed dates and a few
employees whose sales carry no valid date, so the date cascade runs its
per-employee median, global median and invalid-format branches. (Its third
branch, the reference date, needs a vendas file with no valid date at all.)

`generate` writes the CSVs and returns the invariants the outputs are checked
against.
"""

import datetime
import os
import random

CATEGORIES = ["Beleza", "Casa", "Eletrônicos", "Livros", "Roupas"]
CARGOS = ["Assistente", "Gerente", "Vendedor"]
FIRST = ["Ana", "Bruno", "Carla", "Diego", "Elisa", "Fábio", "Gabriela", "Heitor",
         "Isabela", "João", "Larissa", "Marcos", "Natália", "Otávio", "Paula", "Rafael"]
LAST = ["Almeida", "Barbosa", "Cardoso", "Dias", "Ferreira", "Gomes", "Lima",
        "Moreira", "Nunes", "Oliveira", "Pereira", "Ribeiro", "Santos", "Souza"]
# the pipeline's fixed reference date (the fallback for malformed dates)
REFERENCE_DATE = datetime.date(2024, 1, 15)
FIRST_DAY = datetime.date(2023, 1, 1)
DAYS = (datetime.date(2023, 6, 30) - FIRST_DAY).days + 1
MALFORMED = ["2023-03-14", "31/13/2023", "15.04.2023", "abc"]


def _money(x):
    return f"{x:.2f}"


def _with_dups(rng, rows, n_dups):
    """Append `n_dups` full-row copies of distinct random rows, each placed
    after its original so keep-first dedup keeps the first physical row."""
    picks = set(rng.sample(range(len(rows)), n_dups))
    out = []
    for i, r in enumerate(rows):
        out.append(r)
        if i in picks:
            out.append(r)
    return out


def _write(path, header, rows):
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write(";".join(header) + "\n")
        for r in rows:
            f.write(";".join(r) + "\n")


def generate(out_dir, vendas_rows, seed):
    rng = random.Random(seed)
    n_v = vendas_rows
    n_p = max(10, n_v // 5)
    n_e = max(10, n_v // 10)
    os.makedirs(out_dir, exist_ok=True)

    # ---- produtos ---------------------------------------------------------
    n_blank_cat = max(1, round(n_p * 15 / 200))
    blank_cat = set(rng.sample(range(1, n_p + 1), n_blank_cat))
    blank_cat.add(1)  # a priced 'Desconhecida' product: its price median exists
    produtos = []
    category = {}
    for pid in range(1, n_p + 1):
        cat = "" if pid in blank_cat else rng.choice(CATEGORIES)
        category[pid] = cat or "Desconhecida"
        nome = "" if pid % 12 == 0 else f"Produto {pid}"
        preco = "" if pid % 7 == 0 else _money(rng.uniform(32.28, 1991.88))
        produtos.append([str(pid), nome, preco, cat])
    produtos = _with_dups(rng, produtos, max(1, round(n_p * 10 / 200)))

    # ---- empregados -------------------------------------------------------
    n_no_cargo = max(1, round(n_e * 9 / 100))
    no_cargo = set(rng.sample(range(1, n_e + 1), n_no_cargo))
    empregados = []
    for eid in range(1, n_e + 1):
        nome = "" if eid % 9 == 0 else f"{rng.choice(FIRST)} {rng.choice(LAST)}"
        cargo = "" if eid in no_cargo else rng.choice(CARGOS)
        idade = "" if eid % 11 == 1 else f"{rng.randint(18, 62)}.0"
        empregados.append([str(eid), nome, cargo, idade])
    empregados = _with_dups(rng, empregados, max(1, round(n_e * 8 / 100)))

    # ---- vendas -----------------------------------------------------------
    # A couple of employees never sell (Q1 drops them), a few sell only on
    # rows without a valid date (the global-median branch), and a few
    # products never sell (Q2 drops them).
    idle = set(rng.sample(range(1, n_e + 1), 2))
    undated = set(rng.sample(sorted(set(range(1, n_e + 1)) - idle), 3))
    sellers = [e for e in range(1, n_e + 1) if e not in idle]
    unsold = set(rng.sample(range(1, n_p + 1), 3))
    sold_pool = [p for p in range(1, n_p + 1) if p not in unsold]
    n_missing_value = max(1, round(n_v * 77 / 1025))
    missing_value = set(rng.sample(range(1, n_v + 1), n_missing_value))
    n_malformed = max(2, n_v // 500)
    dated = [v for v in range(1, n_v + 1) if v % 10 != 0]
    malformed = set(rng.sample(dated, n_malformed))
    vendas = []
    sold_products, active_employees = set(), set()
    for vid in range(1, n_v + 1):
        eid = rng.choice(sellers)
        pid = rng.choice(sold_pool)
        if vid <= len(undated) * 2:
            # two guaranteed undated sales per undated employee
            eid = sorted(undated)[(vid - 1) // 2]
        if eid in undated:
            data = "" if vid % 2 == 0 else "99/99/2023"
        elif vid % 10 == 0:
            data = ""
        elif vid in malformed:
            data = rng.choice(MALFORMED)
        else:
            data = (FIRST_DAY + datetime.timedelta(days=rng.randrange(DAYS))).strftime("%d/%m/%Y")
        qty = rng.randint(1, 10)
        unit = round(rng.uniform(5.0, 1000.0), 2)
        if vid in missing_value:
            unit_s, total_s = "", ""
        else:
            unit_s, total_s = _money(unit), _money(unit * qty)
        vendas.append([str(vid), data, str(pid), str(eid), str(qty), unit_s, total_s])
        sold_products.add(pid)
        active_employees.add(eid)
    vendas = _with_dups(rng, vendas, max(1, round(n_v * 25 / 1000)))

    _write(os.path.join(out_dir, "produtos.csv"),
           ["id_produto", "nome", "preco", "categoria"], produtos)
    _write(os.path.join(out_dir, "vendas.csv"),
           ["id_venda", "data", "id_produto", "id_empregado", "quantidade",
            "valor_unitario", "valor_total"], vendas)
    _write(os.path.join(out_dir, "empregados.csv"),
           ["id_empregado", "nome", "cargo", "idade"], empregados)

    # Invalid strings on undated employees' rows and the malformed rows fall
    # back to the reference date, so its month joins the six sales months.
    months = [f"2023-{m:02d}" for m in range(1, 7)] + [REFERENCE_DATE.strftime("%Y-%m")]
    categories = {category[p] for p in sold_products}
    return {
        "raw_rows": len(produtos) + len(vendas) + len(empregados),
        "produtos": n_p,
        "vendas": n_v,
        "empregados": n_e,
        "q1_rows": len(active_employees),
        "q2_rows": len(sold_products),
        "q3_rows": len(categories),
        "q4_rows": min(5, len(active_employees)),
        "q5_rows": len(months),
        "reference_date": REFERENCE_DATE.isoformat(),
        # columns every exported row must have filled
        "not_null": {
            "produtos.parquet": ["id_produto", "nome", "preco", "categoria"],
            "resumo-vendas.parquet": ["id_venda", "data", "id_produto", "id_empregado",
                                      "quantidade", "valor_unitario", "valor_total"],
            "empregados.parquet": ["id_empregado", "nome", "cargo", "idade"],
        },
    }
