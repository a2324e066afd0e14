"""Sources-layer tests (SURVEY.md §2.1), golden-assert style per §5.

Fixtures are self-authored minimal inputs mirroring the reference's fixture
*shapes* (06-openstreetmap-data/example.osm, DBpedia prologue CSVs,
02/split_data concatenated XML, 02/process.py HTML tables) — not copies.
"""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys
import textwrap

import pyspark.sql.functions as F
import pytest

from data_wrangling_with_openstreetmap_and_mongodb_spark.sources import (
    element_tag_counts,
    file_key_columns,
    find_one,
    first_line_meta,
    read_csv_positional,
    read_csv_with_prologue,
    read_json,
    read_osm_elements,
    read_xml_rows,
    scrape_options,
    scrape_tables,
    shape_elements,
    split_concatenated_xml,
    split_good_bad,
    tag_key_class_counts,
    write_jsonl,
    write_pipe_csv,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources import osm
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.ranges import file_ranges

OSM_XML = """<?xml version="1.0" encoding="UTF-8"?>
<osm version="0.6" generator="test">
  <node id="1001" visible="true" lat="37.3229" lon="-122.0322" version="2"
        changeset="11129782" timestamp="2012-03-28T18:31:23Z" user="alice" uid="451048"/>
  <node id="1002" lat="37.3230" lon="-122.0411" version="1"
        changeset="8581395" timestamp="2011-06-29T14:14:14Z" user="bob" uid="567034">
    <tag k="amenity" v="restaurant"/>
    <tag k="cuisine" v="mexican"/>
    <tag k="name" v="La Taqueria"/>
    <tag k="addr:street" v="N Blaney Ave"/>
    <tag k="addr:postcode" v="95014"/>
    <tag k="addr:street:name" v="should-be-ignored"/>
  </node>
  <node id="1003" lat="37.3240" lon="-122.0500" version="3"
        changeset="100" timestamp="2012-01-02T03:04:05Z" user="alice" uid="451048">
    <tag k="amenity" v="bank"/>
    <tag k="addr:street" v="Stevens Creek Blvd"/>
    <tag k="bad key" v="dropped"/>
  </node>
  <node id="1004" lat="37.3300" lon="-122.0600" version="1"
        changeset="101" timestamp="2012-02-03T04:05:06Z" user="carol" uid="99">
    <tag k="shop" v="supermarket"/>
    <tag k="addr:city" v="Cupertino"/>
    <tag k="addr:street" v="Bollinger Rd"/>
  </node>
  <way id="2001" version="1" changeset="102"
       timestamp="2012-03-04T05:06:07Z" user="bob" uid="567034">
    <nd ref="1001"/>
    <nd ref="1002"/>
    <nd ref="1003"/>
    <tag k="highway" v="residential"/>
    <tag k="name" v="Rainbow Dr"/>
    <tag k="tiger:county" v="Santa Clara, CA"/>
  </way>
  <way id="2002" version="2" changeset="103"
       timestamp="2012-04-05T06:07:08Z" user="alice" uid="451048">
    <nd ref="1003"/>
    <nd ref="1004"/>
    <tag k="highway" v="service"/>
  </way>
  <relation id="3001" version="1" changeset="104"
            timestamp="2012-05-06T07:08:09Z" user="dave" uid="7">
    <tag k="type" v="route"/>
  </relation>
</osm>
"""


def _big_osm(tmp_path, copies: int) -> pathlib.Path:
    """One OSM file holding ``copies`` repeats of OSM_XML's elements."""
    inner = OSM_XML.split(">", 2)[2].rsplit("</osm>", 1)[0]
    p = tmp_path / "big.osm"
    p.write_text(
        '<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">'
        + inner * copies
        + "</osm>\n"
    )
    return p


def _element_key(r):
    return (
        r["element_type"],
        tuple(sorted(r["attrs"].items())),
        tuple(sorted(r["tags"].items())),
        tuple(r["node_refs"] if r["node_refs"] is not None else []),
    )


@pytest.fixture(scope="module")
def osm_raw(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("osm") / "example.osm"
    p.write_text(OSM_XML)
    return read_osm_elements(spark, str(p)).cache()


@pytest.fixture(scope="module")
def osm_shaped(osm_raw):
    return shape_elements(osm_raw).cache()


def test_ranges_reassemble_whole_file_parse(tmp_path):
    """Spark-free: for any range size, the per-range rows concatenated in
    range order are the whole-file parse, in order.  Small sizes cut
    mid-tag and mid-element, and leave the last element to a range that
    is not the last one but reads on to EOF and so meets the trailer."""
    p = _big_osm(tmp_path, 12)
    size = p.stat().st_size
    whole = [_element_key(r) for r in osm._iterparse_rows(p.read_bytes())]
    assert len(whole) == 7 * 12
    for split_bytes in (17, 64, 100, 200, 257, 4096, size // 2, size, size + 1):
        got = [
            _element_key(r)
            for rng in file_ranges([str(p)], split_bytes)
            for pdf in osm._parse_range(*rng)
            for r in pdf.to_dict("records")
        ]
        assert got == whole, split_bytes


class TestOsmSource:
    @pytest.mark.slow  # ~800 one-range tasks at the 257-byte size
    def test_byte_split_parse_identical(self, spark, tmp_path, monkeypatch):
        # One big file read as one range vs many element-aligned ranges must
        # produce identical element rows, including range sizes that land
        # mid-tag and mid-element.
        p = _big_osm(tmp_path, 120)
        whole = sorted(_element_key(r) for r in read_osm_elements(spark, str(p)).collect())
        assert len(whole) == 7 * 120
        for split_bytes in (257, 4096):
            monkeypatch.setattr(osm, "OSM_SPLIT_BYTES", split_bytes)
            split = sorted(
                _element_key(r) for r in read_osm_elements(spark, str(p)).collect()
            )
            assert split == whole

    def test_glob_reads_every_matching_file(self, spark, tmp_path):
        (tmp_path / "a.osm").write_text(OSM_XML)
        (tmp_path / "b.osm").write_text(OSM_XML.replace('id="', 'id="9'))
        rows = read_osm_elements(spark, str(tmp_path / "*.osm")).collect()
        ids = sorted(r["attrs"]["id"] for r in rows)
        one = ["1001", "1002", "1003", "1004", "2001", "2002", "3001"]
        assert ids == sorted(one + ["9" + i for i in one])

    def test_no_matching_file_raises(self, spark, tmp_path):
        with pytest.raises(FileNotFoundError, match="no OSM file matches"):
            read_osm_elements(spark, str(tmp_path / "*.osm"))

    def test_one_range_audit_needs_no_exchange(self, spark, tmp_path):
        # A file below OSM_SPLIT_BYTES is one range, one partition: the
        # audit's aggregate runs in the parse stage, with no shuffle.
        p = tmp_path / "example.osm"
        p.write_text(OSM_XML)
        counts = element_tag_counts(read_osm_elements(spark, str(p)))
        plan = counts._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert {r["element_type"]: r["cnt"] for r in counts.collect()} == {
            "node": 4, "way": 2, "relation": 1,
        }

    def test_element_tag_counts(self, osm_raw):
        # mapparser.py:29-36 golden-dict style
        counts = {r["element_type"]: r["cnt"] for r in element_tag_counts(osm_raw).collect()}
        assert counts == {"node": 4, "way": 2, "relation": 1}

    def test_workers_import_engine_outside_repo_cwd(self, tmp_path):
        """A driver whose cwd is not the repo root and whose PYTHONPATH is
        unset still parses: get_spark puts the package root on the worker
        path, ahead of any worker path extra_conf passes, so the parse
        closure's engine code imports in the worker."""
        osm = tmp_path / "example.osm"
        osm.write_text(OSM_XML)
        root = pathlib.Path(__file__).resolve().parents[1]
        script = textwrap.dedent(
            f"""
            import json, sys
            sys.path.insert(0, {str(root)!r})
            from data_wrangling_with_openstreetmap_and_mongodb_spark.session import get_spark
            from data_wrangling_with_openstreetmap_and_mongodb_spark.sources import (
                element_tag_counts, read_osm_elements,
            )
            spark = get_spark(
                "outside-cwd", master="local[1]",
                extra_conf={{"spark.executorEnv.PYTHONPATH": "extra"}},
            )
            rows = element_tag_counts(read_osm_elements(spark, {str(osm)!r})).collect()
            worker_path = spark.conf.get("spark.executorEnv.PYTHONPATH")
            print(json.dumps([worker_path, {{r["element_type"]: r["cnt"] for r in rows}}]))
            spark.stop()
            """
        )
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        env["SPARK_DRIVER_MEMORY"] = "1g"
        done = subprocess.run(
            [sys.executable, "-c", script],
            cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
        )
        assert done.returncode == 0, done.stderr[-3000:]
        worker_path, counts = json.loads(done.stdout.strip().splitlines()[-1])
        assert worker_path == os.pathsep.join([str(root), "extra"])
        assert counts == {"node": 4, "way": 2, "relation": 1}

    def test_tag_key_classes(self, osm_raw):
        # tags.py:56 golden {'lower':…, 'lower_colon':…, 'problemchars':…}
        counts = {r["key_class"]: r["cnt"] for r in tag_key_class_counts(osm_raw).collect()}
        # lower: amenity(2) cuisine name(2) shop highway(2) type = 9
        # lower_colon: addr:street(3) addr:postcode addr:city tiger:county = 6
        # problemchars: 'bad key' = 1; other: addr:street:name = 1
        assert counts == {"lower": 9, "lower_colon": 6, "problemchars": 1, "other": 1}

    def test_shaping_drops_relations(self, osm_shaped):
        assert osm_shaped.count() == 6  # README.md:868-874: nodes + ways only
        types = {r["type"] for r in osm_shaped.select("type").distinct().collect()}
        assert types == {"node", "way"}

    def test_created_struct_and_pos(self, osm_shaped):
        row = osm_shaped.filter(F.col("id") == "1001").first()
        assert row["created"]["user"] == "alice"
        assert row["created"]["changeset"] == "11129782"
        assert str(row["created"]["timestamp"]).startswith("2012-03-28 18:31:23")
        assert row["pos"] == [37.3229, -122.0322]  # floats, data.py:105-108
        assert row["visible"] == "true"

    def test_address_shaping_and_cleaning(self, osm_shaped):
        row = osm_shaped.filter(F.col("id") == "1002").first()
        # addr:X → address.X; street cleaned (README.md:683-687, 565-567)
        assert row["address"]["street"] == "North Blaney Avenue"
        assert row["address"]["postcode"] == "95014"
        assert "street:name" not in row["address"]  # addr:X:Y ignored data.py:124
        assert row["tags"]["amenity"] == "restaurant"
        assert "addr:street" not in row["tags"]

        row3 = osm_shaped.filter(F.col("id") == "1003").first()
        assert row3["address"]["street"] == "Stevens Creek Boulevard"
        assert "bad key" not in row3["tags"]  # problemchars dropped data.py:120

        row4 = osm_shaped.filter(F.col("id") == "1004").first()
        assert row4["address"]["street"] == "Bollinger Road"
        assert row4["address"]["city"] == "Cupertino"

    def test_node_refs_ordered(self, osm_shaped):
        row = osm_shaped.filter(F.col("id") == "2001").first()
        assert row["node_refs"] == ["1001", "1002", "1003"]  # order data.py:128-131
        node = osm_shaped.filter(F.col("id") == "1002").first()
        assert node["node_refs"] is None  # nodes have no refs

    def test_distinct_users(self, osm_shaped):
        # users.py:34-style golden: alice, bob, carol (dave only on relation)
        n = osm_shaped.select("created.user").distinct().count()
        assert n == 3

    def test_degree_count_unwind(self, osm_shaped):
        # README.md:976-986 three-most-referenced-nodes shape
        top = (
            osm_shaped.filter(F.col("type") == "way")
            .select(F.explode("node_refs").alias("ref"))
            .groupBy("ref")
            .count()
            .orderBy(F.desc("count"), F.asc("ref"))
            .first()
        )
        assert (top["ref"], top["count"]) == ("1003", 2)

    def test_jsonl_roundtrip(self, spark, osm_shaped, tmp_path):
        out = str(tmp_path / "shaped_json")
        write_jsonl(osm_shaped, out)
        back = read_json(spark, out)
        assert back.count() == 6
        doc = find_one(back.filter(F.col("id") == "1002"))
        assert doc["address"]["street"] == "North Blaney Avenue"


CITIES_CSV = """URI,name,country,areaLand
http://www.w3.org/2002/07/owl#Thing,label,label,label
http://www.w3.org/2001/XMLSchema#string,meta,meta,meta
http://example.org/ontology,meta2,meta2,meta2
http://dbpedia.org/resource/Kud,Kud,India,NULL
http://dbpedia.org/resource/Kuju,Kuju,India,{5.5e+07|5.58e+07}
http://dbpedia.org/resource/Nightmute,{Negtemiut|Nightmute},United States,3.23e+07
"""


class TestCsvSources:
    def test_prologue_skip_by_uri(self, spark, tmp_path):
        p = tmp_path / "cities.csv"
        p.write_text(CITIES_CSV)
        df = read_csv_with_prologue(spark, str(p), uri_column="URI")
        assert df.count() == 3
        names = {r["name"] for r in df.select("name").collect()}
        assert names == {"Kud", "Kuju", "{Negtemiut|Nightmute}"}

    def test_prologue_skip_by_position(self, spark, tmp_path):
        p = tmp_path / "cities.csv"
        p.write_text(CITIES_CSV)
        df = read_csv_with_prologue(spark, str(p), skip_rows=3)
        assert df.count() == 3
        assert {r["country"] for r in df.collect()} == {"India", "United States"}

    def test_positional_and_first_line_meta(self, spark, tmp_path):
        p = tmp_path / "solar.csv"
        p.write_text("MOUNTAIN VIEW CA,USA\nts,irradiance\n1,400\n2,500\n")
        meta = first_line_meta(spark, str(p))
        assert meta[0] == "MOUNTAIN VIEW CA"
        df = read_csv_positional(spark, str(p))
        assert df.columns[0] == "_c0"
        assert df.count() == 4

    def test_good_bad_split(self, spark, tmp_path):
        # 03/validity.py good/bad fork on year validity
        df = spark.createDataFrame(
            [("1995",), ("2020-old",), ("NULL",), ("1886",)], ["productionStartYear"]
        )
        from data_wrangling_with_openstreetmap_and_mongodb_spark.functions import is_valid_year

        good, bad = split_good_bad(df, is_valid_year(F.col("productionStartYear")))
        assert good.count() == 2 and bad.count() == 2

    def test_pipe_csv_sink(self, spark, tmp_path):
        df = spark.createDataFrame([("COAST", 18500.5)], ["Station", "MaxLoad"])
        out = str(tmp_path / "loads")
        write_pipe_csv(df, out)
        txt = spark.read.text(out).collect()
        lines = {r["value"] for r in txt}
        assert "Station|MaxLoad" in lines and "COAST|18500.5" in lines


SPLIT_XML = (
    '<?xml version="1.0"?>\n<doc><v>1</v></doc>\n'
    '<?xml version="1.0"?>\n<doc><v>2</v></doc>\n'
    '<?xml version="1.0"?>\n<doc><v>3</v><v>4</v></doc>\n'
)


class TestXmlSources:
    def test_split_concatenated(self, spark, tmp_path):
        p = tmp_path / "multi.xml"
        p.write_text(SPLIT_XML)
        docs = split_concatenated_xml(spark, str(p))
        assert docs.count() == 3  # 02/split_data.py:46-56 boundary check
        assert [r["doc_index"] for r in docs.orderBy("doc_index").collect()] == [0, 1, 2]

    def test_xpath_extraction(self, spark, tmp_path):
        p = tmp_path / "multi.xml"
        p.write_text(SPLIT_XML)
        docs = split_concatenated_xml(spark, str(p))

        def extract(root):
            return [{"v": int(e.text)} for e in root.findall("./v")]

        rows = read_xml_rows(docs, "xml", extract, "v int")
        assert sorted(r["v"] for r in rows.collect()) == [1, 2, 3, 4]


FLIGHTS_HTML = """<html><body>
<select id="CarrierList">
  <option value="All">AllCarriers</option>
  <option value="FL">AirTran</option>
  <option value="DL">Delta</option>
</select>
<table class="dataTDRight">
  <tr><th>Year</th><th>Month</th><th>Domestic</th><th>International</th></tr>
  <tr><td>2002</td><td>10</td><td>815,489</td><td>92,565</td></tr>
  <tr><td>2002</td><td>TOTAL</td><td>915,000</td><td>99,000</td></tr>
  <tr><td>2002</td><td>11</td><td>766,775</td><td>91,342</td></tr>
</table>
</body></html>"""


class TestHtmlSources:
    def test_scrape_table_typed(self, spark, tmp_path):
        p = tmp_path / "FL-ATL.html"
        p.write_text(FLIGHTS_HTML)
        rows = scrape_tables(spark, str(p), table_class="dataTDRight")
        rows = file_key_columns(rows, r"([A-Z]{2})-([A-Z]{3})\.html$", ["courier", "airport"])
        # 02/process.py:41-76: skip header + TOTAL rows, comma-int parse
        data = (
            rows.filter(F.col("cells")[1].rlike("^[0-9]+$"))
            .select(
                "courier",
                "airport",
                F.col("cells")[0].cast("int").alias("year"),
                F.col("cells")[1].cast("int").alias("month"),
                F.regexp_replace(F.col("cells")[2], ",", "").cast("int").alias("domestic"),
                F.regexp_replace(F.col("cells")[3], ",", "").cast("int").alias("international"),
            )
            .orderBy("month")
            .collect()
        )
        assert len(data) == 2
        first = data[0].asDict()
        assert first == {
            "courier": "FL",
            "airport": "ATL",
            "year": 2002,
            "month": 10,
            "domestic": 815489,
            "international": 92565,
        }

    def test_scrape_options_with_prefix_filter(self, spark, tmp_path):
        p = tmp_path / "FL-ATL.html"
        p.write_text(FLIGHTS_HTML)
        opts = scrape_options(spark, str(p), "CarrierList")
        vals = {r["value"] for r in opts.filter(~F.col("value").startswith("All")).collect()}
        assert vals == {"FL", "DL"}  # 02/carriers.py:47-51 membership style


class TestXlsxMinimalReader:
    @staticmethod
    def _write_xlsx(path, header, rows):
        """Minimal valid .xlsx written with stdlib zipfile: shared strings
        for the header, numeric cells for the data (the fixture shape of
        01/2013_Max_Loads / ercot_coast_stats)."""
        import zipfile

        ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        shared = "".join(f"<si><t>{h}</t></si>" for h in header)
        sheet_rows = [
            "<row r=\"1\">"
            + "".join(
                f'<c r="{chr(65 + i)}1" t="s"><v>{i}</v></c>'
                for i in range(len(header))
            )
            + "</row>"
        ]
        for rn, row in enumerate(rows, start=2):
            cells = "".join(
                f'<c r="{chr(65 + i)}{rn}"><v>{v}</v></c>'
                for i, v in enumerate(row)
                if v is not None
            )
            sheet_rows.append(f'<row r="{rn}">{cells}</row>')
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(
                "[Content_Types].xml",
                '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
                '<Default Extension="xml" ContentType="application/xml"/></Types>',
            )
            z.writestr(
                "xl/sharedStrings.xml",
                f'<?xml version="1.0"?><sst xmlns="{ns}">{shared}</sst>',
            )
            z.writestr(
                "xl/worksheets/sheet1.xml",
                f'<?xml version="1.0"?><worksheet xmlns="{ns}">'
                f"<sheetData>{''.join(sheet_rows)}</sheetData></worksheet>",
            )

    def test_xlsx_ercot_shape_end_to_end(self, spark, tmp_path):
        # serial-date column + two region load columns; a sparse cell (None)
        # exercises A1-ref-based placement
        from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.excelx import (
            decode_serial_date_columns,
            read_xlsx,
        )

        p = tmp_path / "loads.xlsx"
        self._write_xlsx(
            p,
            ["Hour_End", "COAST", "NORTH"],
            [
                [41275.0, 10.5, 7.25],
                [41275.5, 12.75, None],
                [41276.0, 11.0, 9.5],
            ],
        )
        df = read_xlsx(spark, str(p))
        assert df.columns == ["Hour_End", "COAST", "NORTH"]
        typed = decode_serial_date_columns(df, ["Hour_End"]).select(
            "Hour_End",
            F.col("COAST").cast("double"),
            F.col("NORTH").cast("double"),
        )
        rows = typed.collect()
        assert rows[0]["Hour_End"].year == 2013  # serial 41275 = 2013-01-01
        assert rows[1]["NORTH"] is None  # sparse cell survives as null
        # the ERCOT question: max load and when (A10 argmax composition)
        got = typed.agg(
            F.max("COAST").alias("max_coast"),
            F.max_by("Hour_End", "COAST").alias("when"),
        ).first()
        assert got["max_coast"] == 12.75
        assert (got["when"].day, got["when"].hour) == (1, 12)


class TestXlsMinimalReader:
    """Legacy .xls (OLE2 + BIFF8) read end-to-end, engine-free — the
    reference's actual artifact format (01/excel_csv.py:21-46 reads
    2013_ERCOT_Hourly_Load_Data.xls via xlrd).  The fixture writer emits a
    real OLE2 container + BIFF8 record stream so the parser is tested
    against honest bytes, including a CONTINUE-split SST, RK/MULRK cells,
    and both the FAT and ministream layouts."""

    @staticmethod
    def _rec(op, payload):
        import struct

        return struct.pack("<HH", op, len(payload)) + payload

    @classmethod
    def _workbook_stream(cls, header, rows, split_sst=False):
        """BIFF8 Workbook stream: globals (BOF, SST, BOUNDSHEET, EOF) +
        one worksheet substream.  Header cells are LABELSST; data cells are
        NUMBER except: row 1 col 1 goes out as RK (integer-encodable) and,
        when a row has >= 3 numeric cells, the tail cells ship as one MULRK."""
        import struct

        rec = cls._rec
        sheet = rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        for c in range(len(header)):
            sheet += rec(0x00FD, struct.pack("<HHHI", 0, c, 15, c))
        for r, row in enumerate(rows, start=1):
            mulrk_tail = []
            for c, v in enumerate(row):
                if v is None:
                    continue
                if r == 1 and c == 1 and float(v).is_integer() and abs(v) < 2**29:
                    rk = ((int(v) << 2) | 2) & 0xFFFFFFFF
                    sheet += rec(0x027E, struct.pack("<HHHI", r, c, 15, rk))
                elif c >= 2 and len(row) >= 3 and _rk_double_encodable(v):
                    mulrk_tail.append((c, v))
                else:
                    sheet += rec(0x0203, struct.pack("<HHHd", r, c, 15, v))
            if mulrk_tail:
                body = struct.pack("<HH", r, mulrk_tail[0][0])
                for c, v in mulrk_tail:
                    hi = struct.unpack("<Q", struct.pack("<d", v))[0] >> 32
                    body += struct.pack("<HI", 15, hi & 0xFFFFFFFC)
                body += struct.pack("<H", mulrk_tail[-1][0])
                sheet += rec(0x00BD, body)
        sheet += rec(0x000A, b"")

        # globals; BOUNDSHEET needs the sheet BOF offset = len(globals)
        def globals_bytes(lbplypos):
            g = rec(0x0809, struct.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
            n = len(header)
            if split_sst and n >= 2:
                # break inside string 1's character data: SST carries string 0
                # + string 1's header and first char; CONTINUE restarts with a
                # fresh grbit byte before the remaining chars + later strings
                s0, s1 = header[0], header[1]
                p1 = struct.pack("<II", n, n)
                p1 += struct.pack("<HB", len(s0), 0) + s0.encode("latin-1")
                p1 += struct.pack("<HB", len(s1), 0) + s1.encode("latin-1")[:1]
                p2 = b"\x00" + s1.encode("latin-1")[1:]
                for s in header[2:]:
                    p2 += struct.pack("<HB", len(s), 0) + s.encode("latin-1")
                g += rec(0x00FC, p1) + rec(0x003C, p2)
            else:
                p = struct.pack("<II", n, n)
                for s in header:
                    p += struct.pack("<HB", len(s), 0) + s.encode("latin-1")
                g += rec(0x00FC, p)
            name = b"Sheet1"
            g += rec(
                0x0085,
                struct.pack("<IBB", lbplypos, 0, 0)
                + struct.pack("<BB", len(name), 0)
                + name,
            )
            return g + rec(0x000A, b"")

        glen = len(globals_bytes(0))
        return globals_bytes(glen) + sheet

    @staticmethod
    def _ole2(stream, force_fat=False):
        """Wrap `stream` as the 'Workbook' stream of a minimal valid OLE2
        v3 compound file.  Streams under the 4096 mini-cutoff go through the
        ministream (miniFAT + 64-byte sectors inside the root storage) as
        the spec requires; force_fat pads the stream to the cutoff first."""
        import struct

        SEC = 512
        END, FREE, FATSECT = 0xFFFFFFFE, 0xFFFFFFFF, 0xFFFFFFFD
        if force_fat and len(stream) < 4096:
            stream = stream + b"\x00" * (4096 - len(stream))
        size = len(stream)

        def dirent(name, typ, start, sz, child=FREE):
            nm = name.encode("utf-16-le")
            e = nm + b"\x00" * (64 - len(nm))
            e += struct.pack("<HBB", len(nm) + 2, typ, 1)
            e += struct.pack("<III", FREE, FREE, child)
            e += b"\x00" * 16 + b"\x00" * 4 + b"\x00" * 16
            e += struct.pack("<IQ", start, sz)
            return e

        if size >= 4096:
            data = stream + b"\x00" * (-size % SEC)
            nsec = len(data) // SEC
            fat = [FATSECT, END] + [2 + i + 1 for i in range(nsec - 1)] + [END]
            fat += [FREE] * (128 - len(fat))
            root = dirent("Root Entry", 5, END, 0, child=1)
            wb = dirent("Workbook", 2, 2, size)
            directory = root + wb + b"\x00" * 256
            body = struct.pack("<128I", *fat) + directory + data
            first_minifat, n_minifat = END, 0
        else:
            mini = stream + b"\x00" * (-size % 64)
            n_mini = len(mini) // 64
            rootdata = mini + b"\x00" * (-len(mini) % SEC)
            n_root = len(rootdata) // SEC
            minifat = [i + 1 for i in range(n_mini - 1)] + [END]
            minifat += [FREE] * (128 - len(minifat))
            # sectors: 0 FAT, 1 dir, 2 miniFAT, 3.. root storage stream
            fat = [FATSECT, END, END] + [3 + i + 1 for i in range(n_root - 1)] + [END]
            fat += [FREE] * (128 - len(fat))
            root = dirent("Root Entry", 5, 3, len(mini), child=1)
            wb = dirent("Workbook", 2, 0, size)
            directory = root + wb + b"\x00" * 256
            body = (
                struct.pack("<128I", *fat)
                + directory
                + struct.pack("<128I", *minifat)
                + rootdata
            )
            first_minifat, n_minifat = 2, 1

        hdr = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 16
        hdr += struct.pack("<HHH", 0x003E, 0x0003, 0xFFFE)
        hdr += struct.pack("<HH", 9, 6) + b"\x00" * 6
        hdr += struct.pack("<IIII", 0, 1, 1, 0)  # ndir(v4), nfat, firstdir, txn
        hdr += struct.pack("<III", 4096, first_minifat, n_minifat)
        hdr += struct.pack("<II", END, 0)  # first DIFAT, num DIFAT
        hdr += struct.pack("<109I", *([0] + [FREE] * 108))
        assert len(hdr) == 512
        return hdr + body

    def _write(self, path, header, rows, **kw):
        force_fat = kw.pop("force_fat", False)
        path.write_bytes(
            self._ole2(self._workbook_stream(header, rows, **kw), force_fat=force_fat)
        )

    def test_xls_ercot_golden(self, spark, tmp_path):
        """The reference's own golden (01/excel_csv.py:57-97): per-region max
        load + when it happened, FAR_WEST at 2281.2722140000024 on
        2013-06-26 17:00, Max Load compared at 0.1 tolerance."""
        from datetime import datetime

        from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.excelx import (
            decode_serial_date_columns,
            read_xls,
        )

        def serial(y, mo, d, h):
            return (datetime(y, mo, d, h) - datetime(1899, 12, 30)).total_seconds() / 86400.0

        header = ["Hour_End", "COAST", "FAR_WEST", "WEST"]
        rows = [
            [serial(2013, 1, 1, 1), 7606.0, 1073.5, 1062.0],
            [serial(2013, 6, 26, 17), 15022.5, 2281.2722140000024, 1301.25],
            [serial(2013, 8, 8, 17), 16050.75, 2201.0, 1309.5],
            [serial(2013, 12, 25, 9), 9400.0, 1500.0, None],
        ]
        p = tmp_path / "ercot.xls"
        self._write(p, header, rows, force_fat=True)

        df = read_xls(spark, str(p))
        assert df.columns == header
        typed = decode_serial_date_columns(df, ["Hour_End"])
        regions = header[1:]
        long = typed.selectExpr(
            "Hour_End",
            "stack({}, {}) as (Station, Load)".format(
                len(regions), ", ".join(f"'{r}', double(`{r}`)" for r in regions)
            ),
        ).where(F.col("Load").isNotNull())
        got = (
            long.groupBy("Station")
            .agg(
                F.max("Load").alias("max_load"),
                F.max_by("Hour_End", "Load").alias("when"),
            )
            .collect()
        )
        by_station = {r["Station"]: r for r in got}
        assert set(by_station) == set(regions)  # station-name golden
        fw = by_station["FAR_WEST"]
        assert round(fw["max_load"], 1) == round(2281.2722140000024, 1)
        w = fw["when"]
        assert (w.year, w.month, w.day, w.hour) == (2013, 6, 26, 17)

    def test_xls_ministream_continue_sst_and_rk(self, spark, tmp_path):
        """Small workbook exercises the ministream layout (stream < 4096 →
        miniFAT + 64-byte sectors), a CONTINUE record splitting an SST string
        mid-characters, the RK integer cell, and the MULRK run."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.excelx import (
            read_xls,
        )

        header = ["Hour_End", "COUNT", "A_LOAD", "B_LOAD"]
        rows = [[41275.0, 100.0, 2.5, 3.25]]  # 2.5/3.25: RK-double encodable
        p = tmp_path / "mini.xls"
        self._write(p, header, rows, split_sst=True)
        assert len(p.read_bytes()) < 8192  # really took the small path

        df = read_xls(spark, str(p))
        assert df.columns == header  # split SST reassembled
        r = df.collect()[0]
        assert float(r["COUNT"]) == 100.0  # RK integer path
        assert (float(r["A_LOAD"]), float(r["B_LOAD"])) == (2.5, 3.25)  # MULRK
        assert float(r["Hour_End"]) == 41275.0


def _rk_double_encodable(v):
    """True when float v survives the RK 30-significant-bit truncation."""
    import struct

    bits = struct.unpack("<Q", struct.pack("<d", float(v)))[0]
    return (bits & 0x00000003FFFFFFFF) == 0


class TestOrcSource:
    def test_orc_roundtrip_with_pushdown(self, spark, tmp_path):
        """ORC sink + scan: values survive the round trip and a filter
        reaches the ORC reader as a pushed-down predicate."""
        from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.orcx import (
            read_orc,
            write_orc,
        )

        df = spark.createDataFrame(
            [(i, f"n{i}", float(i) * 1.5) for i in range(100)],
            "id long, name string, score double",
        )
        path = str(tmp_path / "orc_t")
        write_orc(df, path)
        back = read_orc(spark, path)
        assert back.count() == 100
        assert {r["name"] for r in back.filter("id < 3").collect()} == {"n0", "n1", "n2"}
        plan = back.filter("id < 3")._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(id), LessThan(id,3)" in plan
        # idempotent drop-and-reload (S19 contract)
        write_orc(df.limit(10), path)
        assert read_orc(spark, path).count() == 10
