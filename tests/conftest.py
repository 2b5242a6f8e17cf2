import pytest

from station_data_ingestion_spark.session import get_spark


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "ingest: the ingestion tier (wide-CSV parse, run_job, remote staging, "
        "streaming ingest, sinks); run with `pytest -m ingest`",
    )
    config.addinivalue_line(
        "markers",
        "mirror: the 407-query plain-session mirror (tests/test_driver_session.py), "
        "a ~15 min tier of its own; run with `pytest -m mirror`, the rest with "
        "`pytest -m \"not mirror\"`",
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def wide_csv_day(tmp_path):
    """Synthetic March-2022 temperature wide matrix (FIXTURES.md §1)."""
    header = (
        "SKN,Station.Name,Observer,Network,Island,ELEV.m.,LAT,LON,"
        "NCEI.id,NWS.id,NESDIS.id,SCAN.id,SMART_NODE_RF.id,Notes,"
        "X2022.03.01,X2022.03.02,X2022.03.03,X2022.03.04,X2022.03.05,X2022.03.06"
    )
    rows = [
        # numeric-looking SKN that must stay a string
        '39.20,Kula,NA,NWS,Maui,912.0,20.76,-156.32,NC1,NW1,NA,NA,NA,junk,'
        "21.5,NA,22.0,22.5,23.0,24.0",
        # leading-zero SKN
        '0042,Hilo,Obs2,SCAN,Hawaii,10.0,19.71,-155.08,NA,NW2,ND2,SC2,SM2,junk,'
        "NA,18.0,NA,19.5,20.0,21.0",
        # short row (guard)
        "7,Short,NA,NWS,Oahu",
        # empty row
        ",,,,,,,,,,,,,,,,,,,",
    ]
    p = tmp_path / "station_wide_day.csv"
    p.write_text(header + "\n" + "\n".join(rows) + "\n")
    return str(p)
