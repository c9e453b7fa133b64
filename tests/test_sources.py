"""Source readers: separator sniffing (reference reads both N3C CSV and
Athena TSV via pandas sep=None, omop2owl_vocab.py:379-383) and glob
expansion."""

import pytest

from omop2owl_vocab_spark.sources.omop import (
    read_concept,
    read_concept_relationship,
)

HEADER = (
    "concept_id,concept_name,domain_id,vocabulary_id,concept_class_id,"
    "standard_concept,concept_code,valid_start_date,valid_end_date,"
    "invalid_reason"
)
ROW = "1,Aspirin,Drug,RxNorm,Ingredient,S,1191,2000-01-01,2099-12-31,"


def test_reads_csv_and_tsv(spark, tmp_path):
    csv = tmp_path / "concept.csv"
    csv.write_text(HEADER + "\n" + ROW + "\n")
    tsv = tmp_path / "concept_athena.csv"
    tsv.write_text(
        HEADER.replace(",", "\t") + "\n" + ROW.replace(",", "\t") + "\n"
    )
    for p in (csv, tsv):
        df = read_concept(spark, str(p))
        row = df.collect()[0]
        assert row["concept_id"] == "1"
        assert row["concept_name"] == "Aspirin"
        assert row["invalid_reason"] == ""  # NaN → ''


def test_glob_expansion(spark, tmp_path):
    for i in range(3):
        (tmp_path / f"c{i}.csv").write_text(
            HEADER + "\n" + ROW.replace("1,Aspirin", f"{i},N{i}") + "\n"
        )
    df = read_concept(spark, str(tmp_path / "c*.csv"))
    assert df.count() == 3


@pytest.mark.parametrize(
    "reader, table",
    [(read_concept, "concept"),
     (read_concept_relationship, "concept_relationship")],
)
def test_empty_path_list_names_the_table(spark, reader, table):
    with pytest.raises(FileNotFoundError, match=f"no {table} file"):
        reader(spark, [])
