"""Sources & sinks layer (SURVEY.md §2.1 S1–S20): CSV (plain, positional,
metadata-prologue, pipe-delimited sink, good/bad fork), JSON (+lines sink),
OSM XML parse+shape, generic XML split/extract, stdlib HTML scraping,
dependency-gated Excel, ORC, and the stdlib Avro container codec."""

from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.avrox import (
    read_avro,
    write_avro,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.csvx import (
    first_line_meta,
    read_csv,
    read_csv_positional,
    read_csv_with_prologue,
    split_good_bad,
    write_good_bad,
    write_pipe_csv,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.excelx import (
    decode_serial_date_columns,
    excel_support,
    read_excel,
    read_xls,
    read_xlsx,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.htmlx import (
    file_key_columns,
    scrape_options,
    scrape_tables,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.jsonx import (
    find_one,
    read_json,
    write_jsonl,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.restx import (
    download_to_file,
    fetch_paged,
    fetch_pages_distributed,
    http_json_fetcher,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.orcx import (
    read_orc,
    write_orc,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.osm import (
    element_tag_counts,
    process_map,
    read_osm_elements,
    shape_elements,
    tag_key_class_counts,
)
from data_wrangling_with_openstreetmap_and_mongodb_spark.sources.xmlx import (
    read_file_contents,
    read_xml_rows,
    split_concatenated_xml,
)

__all__ = [
    "decode_serial_date_columns",
    "download_to_file",
    "element_tag_counts",
    "excel_support",
    "fetch_paged",
    "fetch_pages_distributed",
    "file_key_columns",
    "find_one",
    "first_line_meta",
    "http_json_fetcher",
    "process_map",
    "read_avro",
    "read_csv",
    "read_csv_positional",
    "read_csv_with_prologue",
    "read_excel",
    "read_file_contents",
    "read_json",
    "read_orc",
    "read_osm_elements",
    "read_xls",
    "read_xlsx",
    "read_xml_rows",
    "scrape_options",
    "scrape_tables",
    "shape_elements",
    "split_concatenated_xml",
    "split_good_bad",
    "tag_key_class_counts",
    "write_avro",
    "write_good_bad",
    "write_jsonl",
    "write_orc",
    "write_pipe_csv",
]
