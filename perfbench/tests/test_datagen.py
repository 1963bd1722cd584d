"""Inputs come from the seed alone."""

from perfbench import datagen


def test_same_seed_same_tables():
    assert datagen.long_docs(3, 50).equals(datagen.long_docs(3, 50))
    assert datagen.short_docs(3, 50).equals(datagen.short_docs(3, 50))
    assert not datagen.long_docs(3, 50).equals(datagen.long_docs(4, 50))


def test_token_tables_have_the_program_input_schema():
    for t in (datagen.long_docs(1, 40), datagen.short_docs(1, 40)):
        assert t.schema == datagen.TOKEN_SCHEMA
        lens = [len(x) for x in t.column("tokens").to_pylist()]
        assert lens == t.column("n_tok").to_pylist()
    ids = datagen.short_docs(1, 40).column("doc_id").to_pylist()
    assert len(set(ids)) == 40 and all(i.startswith("https://www.site") for i in ids)


def test_sf_tables_scale_and_plant_duplicates():
    a = datagen.sf_tables(5, 0.01)
    assert a["lineitem"].num_rows == 60_000 and a["documents"].num_rows == 500
    texts = a["documents"].column("text").to_pylist()
    assert len(set(texts)) < len(texts)
    b = datagen.sf_tables(5, 0.01)
    assert all(a[k].equals(b[k]) for k in a)
