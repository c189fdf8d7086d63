"""Public-benchmark archive loaders (sources/archives.py) against mocked
archives — the same strategy the reference's own tests use
(tests/conftest.py:113-783 builds zip mocks; no network): zip layout,
per-image annotation parsing, box-conversion parity, empty-text drop,
comma-label rejoin, and the no-shuffle Spark plan shape."""

from __future__ import annotations

import json
import shutil

import pytest

from doctr_spark.sources.archives import (
    extract_archive,
    load_cord,
    load_funsd,
    load_sroie,
    parse_cord_annotation,
    parse_funsd_annotation,
    parse_sroie_annotation,
)

FUNSD_ANN = {
    "form": [
        {"text": "TOTAL:", "label": "question", "id": 0, "linking": [],
         "words": [{"box": [10, 20, 58, 32], "text": "TOTAL:"}]},
        {"text": "42.50 EUR", "label": "answer", "id": 1, "linking": [],
         "words": [{"box": [64, 20, 104, 32], "text": "42.50"},
                   {"box": [110, 20, 128, 32], "text": "EUR"}]},
        {"text": "", "label": "other", "id": 2, "linking": [],
         "words": [{"box": [10, 40, 30, 52], "text": ""}]},
    ]
}

CORD_ANN = {
    "dontcare": [],
    "valid_line": [
        {"category": "menu.nm", "group_id": 1,
         "words": [{"text": "LATTE",
                    "quad": {"x1": 100, "y1": 50, "x2": 160, "y2": 52,
                             "x3": 158, "y3": 70, "x4": 98, "y4": 68}}]},
        {"category": "menu.price", "group_id": 2,
         "words": [{"text": "4.00",
                    "quad": {"x1": 200, "y1": 50, "x2": 240, "y2": 50,
                             "x3": 240, "y3": 70, "x4": 200, "y4": 70}},
                   {"text": "",
                    "quad": {"x1": 246, "y1": 50, "x2": 280, "y2": 50,
                             "x3": 280, "y3": 70, "x4": 246, "y4": 70}}]},
    ],
}

SROIE_ANN = (
    "12,30,180,30,180,60,12,60,ACME STORE\n"
    "20,70,120,75,118,95,18,90,RECEIPT,NO,7\n"
    "30,110,90,110,90,130,30,130,9.99\n"
)


def _build_funsd_zip(tmp_path):
    root = tmp_path / "funsd_src"
    sub = root / "dataset" / "training_data"
    (sub / "images").mkdir(parents=True)
    (sub / "annotations").mkdir(parents=True)
    for i in range(2):
        (sub / "images" / f"{i}.png").write_bytes(b"\x89PNG-funsd" + bytes([i]))
        (sub / "annotations" / f"{i}.json").write_text(json.dumps(FUNSD_ANN))
    return shutil.make_archive(str(tmp_path / "funsd"), "zip", str(root))


def _build_cord_zip(tmp_path):
    root = tmp_path / "cord_src"
    (root / "image").mkdir(parents=True)
    (root / "json").mkdir(parents=True)
    for i in range(2):
        (root / "image" / f"r{i}.png").write_bytes(b"\x89PNG-cord" + bytes([i]))
        (root / "json" / f"r{i}.json").write_text(json.dumps(CORD_ANN))
    return shutil.make_archive(str(tmp_path / "cord_train"), "zip", str(root))


def _build_sroie_zip(tmp_path):
    root = tmp_path / "sroie_src"
    (root / "images").mkdir(parents=True)
    (root / "annotations").mkdir(parents=True)
    for i in range(2):
        (root / "images" / f"{i}.jpg").write_bytes(b"\xff\xd8-sroie" + bytes([i]))
        (root / "annotations" / f"{i}.txt").write_text(SROIE_ANN, encoding="latin-1")
    return shutil.make_archive(str(tmp_path / "sroie2019_train_task1"), "zip", str(root))


# ------------------------------------------------------------- pure parsers


def test_funsd_parse_straight_and_polygons_and_empty_drop():
    geoms, labels = parse_funsd_annotation(FUNSD_ANN)
    assert labels == ["TOTAL:", "42.50", "EUR"]  # empty-text word dropped
    assert geoms[0] == [10.0, 20.0, 58.0, 32.0]
    pg, _ = parse_funsd_annotation(FUNSD_ANN, use_polygons=True)
    # box -> tl, tr, br, bl corners (funsd.py:92-100)
    assert pg[0] == [10.0, 20.0, 58.0, 20.0, 58.0, 32.0, 10.0, 32.0]


def test_cord_parse_quad_reduction_and_corner_order():
    geoms, labels = parse_cord_annotation(CORD_ANN)
    assert labels == ["LATTE", "4.00"]
    # min/max reduction over the 4 quad points (cord.py:107)
    assert geoms[0] == [98.0, 50.0, 160.0, 70.0]
    pg, _ = parse_cord_annotation(CORD_ANN, use_polygons=True)
    assert pg[0] == [100.0, 50.0, 160.0, 52.0, 158.0, 70.0, 98.0, 68.0]


def test_sroie_parse_comma_labels_and_quad_reduction():
    geoms, labels = parse_sroie_annotation(SROIE_ANN)
    # the label tail rejoins on commas (sroie.py:92)
    assert labels == ["ACME STORE", "RECEIPT,NO,7", "9.99"]
    # skewed quad reduces to per-axis min/max (sroie.py:97-100)
    assert geoms[1] == [18.0, 70.0, 120.0, 95.0]
    pg, _ = parse_sroie_annotation(SROIE_ANN, use_polygons=True)
    assert pg[1] == [20.0, 70.0, 120.0, 75.0, 118.0, 95.0, 18.0, 90.0]


# ------------------------------------------------------------ spark loaders


def test_funsd_loader_end_to_end(spark, tmp_path):
    zp = _build_funsd_zip(tmp_path)
    root = extract_archive(zp, str(tmp_path / "x"))
    df = load_funsd(spark, root, train=True)
    rows = {r["img_name"]: r for r in df.collect()}
    assert set(rows) == {"0.png", "1.png"}
    assert rows["0.png"]["labels"] == ["TOTAL:", "42.50", "EUR"]
    assert rows["0.png"]["geoms"][1] == [64.0, 20.0, 104.0, 32.0]
    assert bytes(rows["1.png"]["image"]) == b"\x89PNG-funsd\x01"
    # extraction is idempotent
    assert extract_archive(zp, str(tmp_path / "x")) == root


def test_cord_and_sroie_loaders_end_to_end(spark, tmp_path):
    cord_root = extract_archive(_build_cord_zip(tmp_path), str(tmp_path / "c"))
    df = load_cord(spark, cord_root, use_polygons=True)
    r = {x["img_name"]: x for x in df.collect()}["r0.png"]
    assert r["labels"] == ["LATTE", "4.00"]
    assert r["geoms"][0] == [100.0, 50.0, 160.0, 52.0, 158.0, 70.0, 98.0, 68.0]

    sroie_root = extract_archive(_build_sroie_zip(tmp_path), str(tmp_path / "s"))
    df = load_sroie(spark, sroie_root)
    r = {x["img_name"]: x for x in df.collect()}["1.jpg"]
    assert r["labels"] == ["ACME STORE", "RECEIPT,NO,7", "9.99"]
    assert len(r["geoms"]) == 3 and all(len(g) == 4 for g in r["geoms"])


def test_missing_annotation_raises(spark, tmp_path):
    zp = _build_funsd_zip(tmp_path)
    root = extract_archive(zp, str(tmp_path / "m"))
    import os

    os.remove(os.path.join(root, "dataset", "training_data", "annotations", "1.json"))
    with pytest.raises(FileNotFoundError):
        load_funsd(spark, root, train=True)


def test_archive_loader_plan_has_no_exchange(spark, tmp_path):
    """Image bytes never shuffle: the plan is binaryFile scan ->
    mapInPandas broadcast attach, no Exchange (same guarantee
    sources/datasets.py pins)."""
    root = extract_archive(_build_sroie_zip(tmp_path), str(tmp_path / "p"))
    df = load_sroie(spark, root)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert "Exchange" not in plan


# --------------------------------------------- IC13 / IC03 / WILDRECEIPT

IC13_GT = (
    "38 43 920 215 'FOUND'\n"
    "275, 264, 665, 450 \"IT\"\n"
    "0 699 77 1498 'HERE,'\n"
)

IC03_XML = """<tagset>
  <image>
    <imageName>apanar/IMG_1.jpg</imageName>
    <resolution x="640" y="480"/>
    <taggedRectangles>
      <taggedRectangle x="10" y="20" width="40" height="12" offset="0" rotation="0">
        <tag>STOP</tag>
      </taggedRectangle>
      <taggedRectangle x="60" y="20" width="30" height="12" offset="0" rotation="0">
        <tag>AHEAD</tag>
      </taggedRectangle>
    </taggedRectangles>
  </image>
  <image>
    <imageName>apanar/IMG_2.jpg</imageName>
    <resolution x="640" y="480"/>
    <taggedRectangles/>
  </image>
</tagset>"""

WILDRECEIPT_JSONL = (
    '{"file_name": "r/0.jpeg", "height": 80, "width": 60, "annotations":'
    ' [{"box": [10.0, 20.0, 50.0, 22.0, 48.0, 40.0, 8.0, 38.0], "text": "CAFE", "label": 1},'
    '  {"box": [60.0, 20.0, 90.0, 20.0, 90.0, 40.0, 60.0, 40.0], "text": "9.50", "label": 17}]}\n'
    '{"file_name": "r/1.jpeg", "height": 80, "width": 60, "annotations":'
    ' [{"box": [5.0, 5.0, 25.0, 5.0, 25.0, 15.0, 5.0, 15.0], "text": "SUM", "label": 2}]}\n'
)

from doctr_spark.sources.archives import (  # noqa: E402
    load_ic03,
    load_ic13,
    load_wildreceipt,
    parse_ic03_words_xml,
    parse_ic13_annotation,
    parse_wildreceipt_line,
)


def test_ic13_parse_quotes_and_trailing_commas():
    geoms, labels = parse_ic13_annotation(IC13_GT)
    # trailing commas stripped per value, labels dequoted — reference
    # parity quirk included: the strip applies to the LABEL too, so a
    # quoted 'HERE,' loses its comma exactly as ic13.py:77-79 does
    assert labels == ["FOUND", "IT", "HERE"]
    assert geoms[1] == [275.0, 264.0, 665.0, 450.0]
    pg, _ = parse_ic13_annotation(IC13_GT, use_polygons=True)
    assert pg[0] == [38.0, 43.0, 920.0, 43.0, 920.0, 215.0, 38.0, 215.0]


def test_ic03_parse_xml_filters_boxless_images():
    parsed = parse_ic03_words_xml(IC03_XML)
    assert list(parsed) == ["apanar/IMG_1.jpg"]  # IMG_2 has no boxes
    geoms, labels = parsed["apanar/IMG_1.jpg"]
    assert labels == ["STOP", "AHEAD"]
    assert geoms[0] == [10.0, 20.0, 50.0, 32.0]  # x, y, x+w, y+h
    pp = parse_ic03_words_xml(IC03_XML, use_polygons=True)
    assert pp["apanar/IMG_1.jpg"][0][1] == [60.0, 20.0, 90.0, 20.0, 90.0, 32.0, 60.0, 32.0]


def test_wildreceipt_parse_minmax_over_8_coords():
    import json as _json

    rec = _json.loads(WILDRECEIPT_JSONL.splitlines()[0])
    geoms, labels = parse_wildreceipt_line(rec)
    assert labels == ["CAFE", "9.50"]
    assert geoms[0] == [8.0, 20.0, 50.0, 40.0]  # min/max over skewed quad
    pg, _ = parse_wildreceipt_line(rec, use_polygons=True)
    assert pg[0] == [10.0, 20.0, 50.0, 22.0, 48.0, 40.0, 8.0, 38.0]


def test_ic13_ic03_wildreceipt_loaders_end_to_end(spark, tmp_path):
    # IC13: explicit folders
    imgs = tmp_path / "ic13_img"
    gts = tmp_path / "ic13_gt"
    imgs.mkdir(), gts.mkdir()
    for i in range(2):
        (imgs / f"w{i}.png").write_bytes(b"ic13" + bytes([i]))
        (gts / f"gt_w{i}.txt").write_text(IC13_GT)
    df = load_ic13(spark, str(imgs), str(gts))
    r = {x["img_name"]: x for x in df.collect()}["w0.png"]
    assert r["labels"] == ["FOUND", "IT", "HERE"]

    # IC03: subset folder + words.xml with subdir image names
    sub = tmp_path / "ic03" / "SceneTrialTrain"
    (sub / "apanar").mkdir(parents=True)
    (sub / "words.xml").write_text(IC03_XML)
    for i in (1, 2):
        (sub / "apanar" / f"IMG_{i}.jpg").write_bytes(b"ic03" + bytes([i]))
    df = load_ic03(spark, str(tmp_path / "ic03"), train=True)
    rows = df.collect()
    assert len(rows) == 1  # the boxless image is filtered
    assert rows[0]["img_name"] == "IMG_1.jpg"
    assert rows[0]["labels"] == ["STOP", "AHEAD"]

    # WILDRECEIPT: jsonl + image folder
    wr = tmp_path / "wild"
    (wr / "r").mkdir(parents=True)
    (wr / "ann.txt").write_text(WILDRECEIPT_JSONL)
    for i in range(2):
        (wr / "r" / f"{i}.jpeg").write_bytes(b"wild" + bytes([i]))
    df = load_wildreceipt(spark, str(wr / "r"), str(wr / "ann.txt"))
    r = {x["img_name"]: x for x in df.collect()}["0.jpeg"]
    assert r["labels"] == ["CAFE", "9.50"]
    assert r["geoms"][0] == [8.0, 20.0, 50.0, 40.0]


# ---------------------------------------------------- SVT / COCO-Text

SVT_XML = """<tagset>
  <image>
    <imageName>img/14_03.jpg</imageName>
    <address>341 Example Street</address>
    <lex>STOP,AHEAD,OTHER</lex>
    <Resolution x="640" y="480"/>
    <taggedRectangles>
      <taggedRectangle height="12" width="40" x="10" y="20"><tag>STOP</tag></taggedRectangle>
      <taggedRectangle height="12" width="30" x="60" y="20"><tag>AHEAD</tag></taggedRectangle>
    </taggedRectangles>
  </image>
  <image>
    <imageName>img/14_04.jpg</imageName>
    <address>342 Example Street</address>
    <lex>WEST</lex>
    <Resolution x="640" y="480"/>
    <taggedRectangles>
      <taggedRectangle height="10" width="20" x="5" y="5"><tag>WEST</tag></taggedRectangle>
    </taggedRectangles>
  </image>
</tagset>"""

COCO_JSON = {
    "imgs": {
        "101": {"set": "train", "file_name": "ct0.jpg"},
        "102": {"set": "val", "file_name": "ct1.jpg"},
        "103": {"set": "train", "file_name": "ct2.jpg"},
        "104": {"set": "train", "file_name": "ct3.jpg"},
    },
    "anns": {
        "a1": {"image_id": 101, "legibility": "legible", "bbox": [10, 20, 40, 12], "utf8_string": "EXIT"},
        "a2": {"image_id": 101, "legibility": "illegible", "bbox": [5, 5, 10, 10], "utf8_string": "??"},
        "a3": {"image_id": 103, "legibility": "legible", "bbox": [30, 40, 20, 10], "utf8_string": "NORTH"},
        "a4": {"image_id": 104, "legibility": "illegible", "bbox": [1, 1, 2, 2], "utf8_string": "x"},
    },
}

from doctr_spark.sources.archives import (  # noqa: E402
    load_cocotext,
    load_svt,
    parse_cocotext,
    parse_svt_xml,
)


def test_svt_parse_xywh_and_tag_labels():
    parsed = parse_svt_xml(SVT_XML)
    assert list(parsed) == ["img/14_03.jpg", "img/14_04.jpg"]
    geoms, labels = parsed["img/14_03.jpg"]
    assert labels == ["STOP", "AHEAD"]
    assert geoms[0] == [10.0, 20.0, 50.0, 32.0]
    pp = parse_svt_xml(SVT_XML, use_polygons=True)
    assert pp["img/14_04.jpg"][0][0] == [5.0, 5.0, 25.0, 5.0, 25.0, 15.0, 5.0, 15.0]


def test_cocotext_parse_set_and_legibility_filters():
    parsed = parse_cocotext(COCO_JSON, train=True)
    # val image excluded, illegible-only image skipped entirely
    assert set(parsed) == {"ct0.jpg", "ct2.jpg"}
    geoms, labels = parsed["ct0.jpg"]
    assert labels == ["EXIT"]  # the illegible ann on 101 is dropped
    assert geoms[0] == [10.0, 20.0, 50.0, 32.0]
    # the val image has no legible anns at all -> skipped, not emitted empty
    assert parse_cocotext(COCO_JSON, train=False) == {}


def test_svt_and_cocotext_loaders_end_to_end(spark, tmp_path):
    sub = tmp_path / "svt" / "svt1" / "img"
    sub.mkdir(parents=True)
    (tmp_path / "svt" / "svt1" / "train.xml").write_text(SVT_XML)
    for n in ("14_03", "14_04"):
        (sub / f"{n}.jpg").write_bytes(b"svt-" + n.encode())
    df = load_svt(spark, str(tmp_path / "svt"), train=True)
    rows = {r["img_name"]: r for r in df.collect()}
    assert set(rows) == {"14_03.jpg", "14_04.jpg"}
    assert rows["14_03.jpg"]["labels"] == ["STOP", "AHEAD"]

    import json as _json

    coco = tmp_path / "coco"
    coco.mkdir()
    (coco / "ann.json").write_text(_json.dumps(COCO_JSON))
    for i in range(4):
        (coco / f"ct{i}.jpg").write_bytes(b"coco" + bytes([i]))
    df = load_cocotext(spark, str(coco), str(coco / "ann.json"), train=True)
    rows = {r["img_name"]: r for r in df.collect()}
    assert set(rows) == {"ct0.jpg", "ct2.jpg"}
    assert rows["ct2.jpg"]["labels"] == ["NORTH"]
    assert rows["ct2.jpg"]["geoms"][0] == [30.0, 40.0, 50.0, 50.0]


def test_basename_rekey_rejects_same_name_in_two_subdirs(spark, tmp_path):
    """binaryFile keys images by basename, so two annotated images with one
    file name in different subdirs must raise, not share one annotation."""
    sub = tmp_path / "svt" / "svt1"
    for d in ("a", "b"):
        (sub / d).mkdir(parents=True)
        (sub / d / "x.jpg").write_bytes(b"svt-" + d.encode())
    xml = SVT_XML.replace("img/14_03.jpg", "a/x.jpg").replace("img/14_04.jpg", "b/x.jpg")
    (sub / "train.xml").write_text(xml)
    with pytest.raises(ValueError, match=r"\['x.jpg'\]"):
        load_svt(spark, str(tmp_path / "svt"), train=True)


# ------------------------------------------------- MJSynth / IIIT-HWS

MJSYNTH_ANN = (
    "./2/1/107_WELCOME_123.jpg\n"
    "./2/1/108_Hello_77.jpg\n"
    "./3/1/109_SKIPPED_1.jpg\n"  # 90% in-order split drops the last line
)

IIITHWS_ANN = "img/a0.png HELLO\nimg/a1.png WORLD\nimg/a2.png SPARK\n"

from doctr_spark.sources.archives import load_iiithws, load_mjsynth  # noqa: E402


def test_mjsynth_filename_labels_and_split(spark, tmp_path):
    root = tmp_path / "mj"
    (root / "2" / "1").mkdir(parents=True)
    (root / "3" / "1").mkdir(parents=True)
    for rel in ("2/1/107_WELCOME_123.jpg", "2/1/108_Hello_77.jpg", "3/1/109_SKIPPED_1.jpg"):
        (root / rel).write_bytes(b"mj-" + rel.encode())
    ann = tmp_path / "mj_ann.txt"
    ann.write_text(MJSYNTH_ANN)
    df = load_mjsynth(spark, str(root), str(ann), train=True)
    rows = {r["img_name"]: r["label"] for r in df.collect()}
    # label = second underscore field; 90/10 in-order split keeps 2 of 3
    assert rows == {"107_WELCOME_123.jpg": "WELCOME", "108_Hello_77.jpg": "Hello"}
    test_df = load_mjsynth(spark, str(root), str(ann), train=False)
    assert {r["label"] for r in test_df.collect()} == {"SKIPPED"}
    # blacklist drops a corrupt path before parsing
    bl = load_mjsynth(
        spark, str(root), str(ann), train=True,
        blacklist=frozenset(["./2/1/108_Hello_77.jpg\n"]),
    )
    assert {r["label"] for r in bl.collect()} == {"WELCOME"}


def test_iiithws_deterministic_split(spark, tmp_path):
    root = tmp_path / "hw" / "img"
    root.mkdir(parents=True)
    for n in ("a0", "a1", "a2"):
        (root / f"{n}.png").write_bytes(b"hw-" + n.encode())
    ann = tmp_path / "hw_ann.txt"
    ann.write_text(IIITHWS_ANN)
    tr = load_iiithws(spark, str(tmp_path / "hw"), str(ann), train=True)
    te = load_iiithws(spark, str(tmp_path / "hw"), str(ann), train=False)
    tr_labels = {r["label"] for r in tr.collect()}
    te_labels = {r["label"] for r in te.collect()}
    # deterministic hash-ordered split: 2 train + 1 test, disjoint, total 3
    assert len(tr_labels) == 2 and len(te_labels) == 1
    assert tr_labels | te_labels == {"HELLO", "WORLD", "SPARK"}
    assert not (tr_labels & te_labels)
    # stable across invocations (the reference's unseeded shuffle is not)
    tr2 = {r["label"] for r in load_iiithws(spark, str(tmp_path / "hw"), str(ann), train=True).collect()}
    assert tr2 == tr_labels


# ------------------------------------------ IIIT5K / SynthText (.mat)


def test_matio_round_trip_all_supported_classes(tmp_path):
    """The bundled MAT-v5 codec: numeric (incl. 3-D column-major), char,
    cell, struct array, zlib-wrapped elements."""
    import numpy as np

    from doctr_spark.sources.matio import read_mat, write_mat

    p = str(tmp_path / "rt.mat")
    wb3 = np.arange(24, dtype=float).reshape(2, 4, 3, order="F")
    data = {
        "s": [{"a": "one", "b": np.array([[1.0, 2.0]])},
              {"a": "two", "b": np.array([[3.0, 4.0]])}],
        "c": ["x/0.jpg", "y/1.jpg"],
        "m3": wb3,
        "v": np.array([1.0, 2.5, -3.0]),
    }
    for compress in (True, False):
        write_mat(p, data, compress=compress)
        back = read_mat(p)
        assert [e["a"] for e in back["s"]] == ["one", "two"]
        np.testing.assert_array_equal(back["s"][1]["b"], [[3.0, 4.0]])
        assert back["c"] == ["x/0.jpg", "y/1.jpg"]
        np.testing.assert_array_equal(back["m3"], wb3)
        np.testing.assert_array_equal(back["v"], [[1.0, 2.5, -3.0]])


def test_matio_rejects_garbage(tmp_path):
    from doctr_spark.sources.matio import read_mat

    p = tmp_path / "bad.mat"
    p.write_bytes(b"\x00" * 20)
    with pytest.raises(ValueError):
        read_mat(str(p))


def _build_iiit5k(tmp_path):
    import numpy as np

    from doctr_spark.sources.matio import write_mat

    sub = tmp_path / "i5k" / "IIIT5K" / "train"
    sub.mkdir(parents=True)
    for n in ("1", "2"):
        (sub / f"{n}.png").write_bytes(b"i5k-" + n.encode())
    entries = [
        {"ImgName": "train/1.png", "chars": "YOU",
         "charBB": np.array([[10.0, 20, 8, 12], [20, 20, 8, 12], [30, 20, 8, 12]])},
        {"ImgName": "train/2.png", "chars": "ARE",
         "charBB": np.array([[5.0, 5, 6, 10], [12, 5, 6, 10], [19, 5, 6, 10]])},
    ]
    write_mat(str(tmp_path / "i5k" / "IIIT5K" / "trainCharBound.mat"),
              {"trainCharBound": entries})
    return str(tmp_path / "i5k")


def test_iiit5k_loader_char_boxes(spark, tmp_path):
    from doctr_spark.sources.archives import load_iiit5k

    df = load_iiit5k(spark, _build_iiit5k(tmp_path), train=True)
    rows = {r["img_name"]: r for r in df.collect()}
    assert set(rows) == {"1.png", "2.png"}
    # label cast to per-character list aligned with the char boxes
    assert rows["1.png"]["labels"] == ["Y", "O", "U"]
    # xywh -> xyxy (iiit5k.py:99)
    assert rows["1.png"]["geoms"][0] == [10.0, 20.0, 18.0, 32.0]
    df_p = load_iiit5k(spark, str(tmp_path / "i5k"), train=True, use_polygons=True)
    r = {x["img_name"]: x for x in df_p.collect()}["2.png"]
    assert r["geoms"][2] == [19.0, 5.0, 25.0, 5.0, 25.0, 15.0, 19.0, 15.0]


def _build_synthtext(tmp_path):
    import numpy as np

    from doctr_spark.sources.matio import write_mat

    sub = tmp_path / "st" / "SynthText" / "d"
    sub.mkdir(parents=True)
    for n in ("0", "1", "2"):
        (sub / f"{n}.jpg").write_bytes(b"st-" + n.encode())
    # two words on image 0 (2x4x2 corner tensor), one on images 1 and 2
    w0a = np.array([[10, 50, 48, 8], [20, 22, 40, 38]], dtype=float)  # (2,4) x;y
    w0b = np.array([[60, 90, 90, 60], [20, 20, 40, 40]], dtype=float)
    wb0 = np.stack([w0a, w0b], axis=2)  # (2, 4, 2)
    wb1 = np.array([[5, 25, 25, 5], [5, 5, 15, 15]], dtype=float)  # (2, 4)
    write_mat(
        str(tmp_path / "st" / "SynthText" / "gt.mat"),
        {
            "imnames": ["d/0.jpg", "d/1.jpg", "d/2.jpg"],
            "wordBB": [wb0, wb1, wb1],
            "txt": [["CAFE 9X    ", "          "], ["SOLO   "], ["LAST   "]],
        },
    )
    return str(tmp_path / "st")


def test_synthtext_loader_corner_tensors_and_split(spark, tmp_path):
    from doctr_spark.sources.archives import load_synthtext

    root = _build_synthtext(tmp_path)
    df = load_synthtext(spark, root, train=True)  # int(3*0.9)=2 -> first 2
    rows = {r["img_name"]: r for r in df.collect()}
    assert set(rows) == {"0.jpg", "1.jpg"}
    assert rows["0.jpg"]["labels"] == ["CAFE", "9X"]
    # min/max over the skewed (4,2) quad (synthtext.py:114-116)
    assert rows["0.jpg"]["geoms"][0] == [8.0, 20.0, 50.0, 40.0]
    assert rows["1.jpg"]["labels"] == ["SOLO"]
    te = load_synthtext(spark, root, train=False)
    assert {r["img_name"] for r in te.collect()} == {"2.jpg"}
    df_p = load_synthtext(spark, root, train=True, use_polygons=True)
    r = {x["img_name"]: x for x in df_p.collect()}["0.jpg"]
    # corner tensor transposed to per-word (4,2) -> 8 flat coords
    assert r["geoms"][1] == [60.0, 20.0, 90.0, 20.0, 90.0, 40.0, 60.0, 40.0]
