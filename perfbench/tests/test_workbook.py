import datetime as dt

from perfbench import workbook

COL = {h: i for i, h in enumerate(workbook.HEADERS)}


def test_generator_is_deterministic_per_seed():
    assert workbook.generate(11, 300) == workbook.generate(11, 300)
    assert workbook.generate(11, 300) != workbook.generate(12, 300)


def test_generator_follows_the_reference_layout():
    rows = workbook.generate(5, 2400)
    keys = [r[COL["CPF/CNPJ"]] for r in rows]
    assert len(set(keys)) == len(rows) - 4  # 2 per 1200 repeat a key
    assert all("." in k and "-" in k for k in keys)  # formatted, as in the reference
    for name in ("Celulares", "Telefones"):
        assert all(r[COL[name]] is None or type(r[COL[name]]) is float for r in rows), name
    for name in ("UF", "Plano", "Vencimento", "Telefones", "Emails"):
        assert any(r[COL[name]] is None for r in rows), name
    status = [r[COL["Status"]] for r in rows]
    assert set(status) == {"Ativo", "Velocidade Reduzida"}
    assert status.count("Velocidade Reduzida") > 0.85 * len(rows)
    assert len(workbook.HEADERS) == 20 and all(len(r) == 20 for r in rows)


def _row(nome, cpf, signup, cel, tel, email, plano):
    row = [None] * len(workbook.HEADERS)
    row[COL["Nome/Razão Social"]] = nome
    row[COL["CPF/CNPJ"]] = cpf
    row[COL["Data Cadastro cliente"]] = dt.datetime(2020, 1, signup, 12)
    row[COL["Celulares"]] = cel
    row[COL["Telefones"]] = tel
    row[COL["Emails"]] = email
    row[COL["Plano"]] = plano
    return row


def test_expected_counts_on_a_tiny_workbook():
    rows = [
        # one customer written three ways; the earliest sign-up, then the
        # smallest name, survives and only its contacts count
        _row("B", "123.456.789-01", 3, 5581999990000.0, 558133334444.0, "b@x.com", "P1"),
        _row("A", "12345678901", 2, 5581988881111.0, None, "a@x.com", "P2"),
        _row("C", " 123456789-01 ", 2, None, None, None, "P3"),
        # NULL contacts are dropped; a NULL plan becomes the default plan
        _row("D", "98.765.432/0001-00", 1, None, 558133334444.0, None, None),
    ]
    assert workbook.expected_counts(rows) == {
        "tbl_planos": 2,  # P2 (survivor of 123...) and the default plan
        "tbl_clientes": 2,
        "tbl_cliente_contratos": 2,
        "tbl_cliente_contatos": 3,  # A: cel + email; D: tel
    }
