"""DataFrame-path parity: the same golden semantics through mapInPandas.

Mirrors the reference acceptance example
(/root/reference/examples/generalized-repetition/Main.hs:36-44): per-img
(alt, src) tuples — the image+caption record shape of the north star.
"""

import pytest

from scalpel_spark import any_selector, attr, chroots, sdo, tag
from scalpel_spark.spark.extract import extract_records, selector_prefilter

COMMENTS_HTML = (
    "<html><body><div class='comments'>"
    "<div class='comment container'>"
    "<span class='comment author'>Sally</span>"
    "<div class='comment text'>Woo hoo!</div>"
    "</div>"
    "<div class='comment container'>"
    "<span class='comment author'>Bill</span>"
    "<img alt='A cat picture.' class='comment image' src='http://example.com/cat.gif' />"
    "</div>"
    "<div class='comment container'>"
    "<span class='comment author'>Susan</span>"
    "<div class='comment text'>WTF!?!</div>"
    "</div>"
    "<div class='comment container'>"
    "<span class='comment author'>Bill</span>"
    "<img alt='A dog picture.' class='comment image' src='http://example.com/dog.gif' />"
    "</div>"
    "</div></body></html>"
)

IMG_SCRAPER = chroots(
    "img", sdo(attr("alt", any_selector), attr("src", any_selector))
)


def test_extract_records_image_caption(spark):
    df = spark.createDataFrame(
        [
            ("u1", COMMENTS_HTML),
            ("u2", "<p>no images here</p>"),
            ("u3", "<img src='x.png' alt='x'>"),
        ],
        "url string, html string",
    )
    out = extract_records(
        df,
        IMG_SCRAPER,
        "alt string, src string",
        carry_cols=["url"],
        prefilter=tag("img"),
    )
    rows = sorted((r.url, r.alt, r.src) for r in out.collect())
    assert rows == [
        ("u1", "A cat picture.", "http://example.com/cat.gif"),
        ("u1", "A dog picture.", "http://example.com/dog.gif"),
        ("u3", "x", "x.png"),
    ]


def test_prefilter_is_sound(spark):
    df = spark.createDataFrame(
        [
            ("a", "<IMG SRC='up.png' alt='U'>"),
            ("b", "text mentioning img but no tag"),
            ("c", "<imgs>not-an-img</imgs>"),
        ],
        "url string, html string",
    )
    out = extract_records(
        df,
        IMG_SCRAPER,
        "alt string, src string",
        carry_cols=["url"],
        prefilter=tag("img"),
    )
    rows = sorted((r.url, r.alt, r.src) for r in out.collect())
    assert rows == [("a", "U", "up.png")]


def test_prefilter_prunes_python_stage(spark):
    pf = selector_prefilter(tag("img"), "html")
    df = spark.createDataFrame(
        [("x", "<p>plain</p>")], "url string, html string"
    ).filter(pf)
    assert df.count() == 0


def test_default_shuffle_partitions_follows_master():
    """``get_spark`` sizes shuffles to the master's task slots; derived
    without building a session (only one may exist per process)."""
    import os

    from scalpel_spark.spark.session import default_shuffle_partitions

    assert default_shuffle_partitions("local[3]") == 3
    assert default_shuffle_partitions("local[5,2]") == 5
    assert default_shuffle_partitions("local[*]") == (os.cpu_count() or 8)
    assert default_shuffle_partitions("spark://host:7077") == (os.cpu_count() or 8)
