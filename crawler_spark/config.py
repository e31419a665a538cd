"""Crawl configuration — the reference's five spiders, as data.

Each reference spider is a Python class whose behavior is fully
determined by: seed URL templates, a parse kind (XPath HTML vs JSON
API), a list-node selector shape, string post-processing for the
publish date, a URL absolutization prefix, and provenance constants
(province/city/county/site_name/source — reference
``project/spiders/zybtp_zhaobiao.py:17-21`` et al.). None of that needs
to be code: here it is one row per spider in a ``crawl_config`` table,
broadcast-joined on ``source`` wherever provenance or parse dispatch is
needed (SURVEY.md §2.1 O1/O9).

Hosts are ``*-test.local`` stand-ins: the sandbox is offline, and the
fetch operator is an equi-join against a ``pages`` table (the virtual
web, see ``crawler_spark/corpus/webgen.py``), so the real hostnames
would add nothing but a network dependency.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


@dataclass(frozen=True)
class SiteConfig:
    source: str                      # host key
    site_name: str
    province: str
    city: str
    county: str
    seed_templates: tuple[str, ...]  # with {page}
    contents_base_url: str           # absolutization prefix ('' if hrefs absolute)
    parse_kind: str                  # 'xpath_sizebid' | 'xpath_ahhyzb' | 'json_dz100'
    #                                  | 'xpath_zybtp' | 'xpath_ggzy'
    max_page: int = 10               # reference sizebid_zhaobiao.py:20 exemplar
    origin_url_template: str | None = None   # dz100 synthesizes origin_url from
    #                                  an id template (dz100_zhaobiao.py:58),
    #                                  NOT from any response field
    crawl_delay: float = 1.0         # politeness seconds per request on this host
    needs_render: bool = False       # reference Henan_KaiFeng meta use_playwright


# The five reference spiders re-expressed as rows. Selector shapes are
# documented per parse_kind in crawler_spark/functions/parsing.py, which
# is the single place the shapes are interpreted.
SITES: tuple[SiteConfig, ...] = (
    SiteConfig(
        source="m.sizebid-test.local",
        site_name="势必得招标网",   # reference sizebid_zhaobiao.py:16
        province="",
        city="",
        county="",
        seed_templates=("https://m.sizebid-test.local/bid-information/{page}.html?fuzzySearch=false",),
        contents_base_url="https://m.sizebid-test.local",
        parse_kind="xpath_sizebid",
        crawl_delay=1.0,
    ),
    SiteConfig(
        source="jypt.ahhyzb-test.local",
        site_name="安徽寰亚国际招标有限公司",  # reference ahhyzb_zhaobiao.py:16
        province="",
        city="",
        county="",
        seed_templates=("https://jypt.ahhyzb-test.local/jyxx/002001/{page}.html",),
        contents_base_url="https://jypt.ahhyzb-test.local",
        parse_kind="xpath_ahhyzb",
        crawl_delay=0.5,
    ),
    SiteConfig(
        source="api.dz100-test.local",
        site_name="大众招标网",     # reference dz100_zhaobiao.py:16
        province="",
        city="",
        county="",
        seed_templates=("https://api.dz100-test.local/api/bid/list?page={page}",),
        contents_base_url="https://api.dz100-test.local/api/bid/detail?id={id}",
        parse_kind="json_dz100",
        origin_url_template="https://www.dz100-test.local/gat/gateway/bidHall-info?id={id}",
        crawl_delay=0.5,
    ),
    SiteConfig(
        source="www.zybtp-test.local",
        site_name="中原招标投标网",  # reference zybtp_zhaobiao.py:20
        province="山东省",
        city="济南市",
        county="",
        seed_templates=(
            "https://www.zybtp-test.local/gcggg/index_{page}.jhtml",
            "https://www.zybtp-test.local/hcggg/index_{page}.jhtml",
        ),
        contents_base_url="https://www.zybtp-test.local",
        parse_kind="xpath_zybtp",
        crawl_delay=2.0,
    ),
    SiteConfig(
        source="ggzy.pds-test.local",
        site_name="平顶山市公共资源交易中心",  # reference Henan_KaiFeng:17
        province="河南省",
        city="平顶山市",
        county="",
        seed_templates=(
            "https://ggzy.pds-test.local/zzbgg/index_{page}.jhtml",
            "https://ggzy.pds-test.local/gzbgg/index_{page}.jhtml",
        ),
        contents_base_url="https://ggzy.pds-test.local",
        parse_kind="xpath_ggzy",
        crawl_delay=1.0,
    ),
)

CRAWL_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), False),
        T.StructField("site_name", T.StringType(), False),
        T.StructField("province", T.StringType(), False),
        T.StructField("city", T.StringType(), False),
        T.StructField("county", T.StringType(), False),
        T.StructField("seed_templates", T.ArrayType(T.StringType()), False),
        T.StructField("contents_base_url", T.StringType(), False),
        T.StructField("parse_kind", T.StringType(), False),
        T.StructField("max_page", T.IntegerType(), False),
        T.StructField("crawl_delay", T.DoubleType(), False),
        T.StructField("needs_render", T.BooleanType(), False),
        T.StructField("origin_url_template", T.StringType(), True),
    ]
)


def crawl_config_df(spark: SparkSession, sites: tuple[SiteConfig, ...] = SITES) -> DataFrame:
    rows = [
        (
            s.source,
            s.site_name,
            s.province,
            s.city,
            s.county,
            list(s.seed_templates),
            s.contents_base_url,
            s.parse_kind,
            s.max_page,
            s.crawl_delay,
            s.needs_render,
            s.origin_url_template,
        )
        for s in sites
    ]
    return spark.createDataFrame(rows, CRAWL_CONFIG_SCHEMA)
