"""HTTP contract tests (≙ reference tests/test_http.py:4-97: status
codes, limit clamping, filters, CORS, over-long query)."""

import json
import urllib.request

import pytest

from addok_spark.config import EngineConfig
from addok_spark.data.transcripts import transcripts_df
from addok_spark.http_api import serve_background
from addok_spark.index.build import build_index, open_dataset
from addok_spark.serving.local import LocalSearchEngine


@pytest.fixture(scope="module")
def server(spark, tmp_index_root):
    cfg = EngineConfig(
        build_partitions=8, doc_bucket_bits=8, posting_block_size=64,
        common_threshold=400,
    )
    paths = build_index(
        spark, transcripts_df(spark, 25, seed=42), cfg,
        f"{tmp_index_root}/http_idx",
    )
    engine = LocalSearchEngine(paths, cfg)
    srv, port = serve_background(engine)
    yield f"http://127.0.0.1:{port}", engine
    srv.shutdown()


def _get(url):
    try:
        r = urllib.request.urlopen(url, timeout=120)
        return r.status, json.loads(r.read()), dict(r.headers)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}"), dict(e.headers)


def test_search_basic(server, spark):
    base, engine = server
    sample = engine.index.doc(0)
    words = "+".join(sample["text"].split()[:2])
    code, body, headers = _get(f"{base}/search/?q={words}&limit=5")
    assert code == 200
    assert body["limit"] == 5
    assert len(body["hits"]) <= 5
    assert headers.get("Access-Control-Allow-Origin") == "*"
    if body["hits"]:
        assert body["hits"][0]["rank"] == 1


def test_missing_q(server):
    base, _ = server
    code, body, _ = _get(f"{base}/search/")
    assert code == 400


def test_limit_clamped(server):
    base, _ = server
    code, body, _ = _get(f"{base}/search/?q=the&limit=10000")
    assert code == 200 and body["limit"] == 100
    code, body, _ = _get(f"{base}/search/?q=the&limit=0")
    assert code == 200 and body["limit"] == 1


def test_query_too_long_413(server):
    base, _ = server
    code, _, _ = _get(f"{base}/search/?q=" + "x" * 300)
    assert code == 413


def test_role_filter(server):
    base, _ = server
    code, body, _ = _get(f"{base}/search/?q=the+run&role=user&role=tool&limit=20")
    assert code == 200
    assert all(h["role"] in ("user", "tool") for h in body["hits"])


def test_filter_space_separator(server):
    """≙ reference test_multi_value_filter_with_space_separator
    (tests/test_http.py:321-340): FILTERS_MULTI_VALUE_SEPARATOR
    defaults to space, so ``role=user tool`` in ONE parameter ORs
    both values."""
    base, _ = server
    code, body, _ = _get(f"{base}/search/?q=the+run&role=user+tool&limit=20")
    assert code == 200
    assert body["hits"], "space-separated filter matched nothing"
    assert all(h["role"] in ("user", "tool") for h in body["hits"])


def test_filter_parsing_separator_modes():
    """≙ reference custom-separator / disabled-multi-value tests
    (tests/test_http.py:297-363): the separator is config, values are
    stripped, empties dropped, unknown fields ignored."""
    from addok_spark.http_api import _match_filters

    params = {"role": ["user|tool", " assistant "], "nope": ["x"]}
    pipe = EngineConfig(filters_multi_value_separator="|")
    assert _match_filters(pipe, params) == {
        "role": ["user", "tool", "assistant"]
    }
    off = EngineConfig(filters_multi_value_separator=None)
    assert _match_filters(off, {"role": ["user tool", ""]}) == {
        "role": ["user tool"]
    }
    default = EngineConfig()
    assert _match_filters(default, {"role": ["user tool"]}) == {
        "role": ["user", "tool"]
    }


def test_query_not_split_on_commas(server):
    """≙ reference test_search_should_not_split_querystring_on_commas
    (tests/test_http.py:226-232): a comma inside q is query text, not
    a value separator — the echoed query keeps it intact."""
    base, _ = server
    code, body, _ = _get(f"{base}/search/?q=the,run&limit=5")
    assert code == 200
    assert body["query"] == "the,run"


def test_trailing_slash_equivalence(server):
    """≙ reference no-redirect tests (tests/test_http.py:31-34,
    100-103): /search and /search/ answer identically, no 3xx hop."""
    base, _ = server
    c1, b1, _ = _get(f"{base}/search?q=the&limit=3")
    c2, b2, _ = _get(f"{base}/search/?q=the&limit=3")
    assert c1 == c2 == 200
    assert b1 == b2


def test_404(server):
    base, _ = server
    code, _, _ = _get(f"{base}/nope")
    assert code == 404


def test_health(server):
    """≙ reference /health route (http/base.py:225-237): cheap
    metadata answer, no posting read."""
    base, engine = server
    code, body, _ = _get(f"{base}/health")
    assert code == 200
    assert body["status"] == "ok"
    assert body["n_docs"] == open_dataset(engine.index.paths, "docs").count_rows()
    assert body["snapshot_version"] == engine.index.paths.version
    assert body["n_tokens"] > 0


def test_health_serving_backend(server, tmp_index_root):
    """/health answers from the warm serving tier too, including the
    in-RAM dictionary size."""
    from addok_spark.http_api import serve_background
    from addok_spark.serving.local import LocalSearchEngine

    cfg = EngineConfig(
        doc_bucket_bits=8, posting_block_size=64, common_threshold=400
    )
    local = LocalSearchEngine(f"{tmp_index_root}/http_idx", cfg)
    srv, port = serve_background(local)
    try:
        code, body, _ = _get(f"http://127.0.0.1:{port}/health")
        assert code == 200
        assert body["status"] == "ok"
        assert body["n_docs"] == local.index.n_docs
        assert body["n_tokens"] == len(local.index.df)
    finally:
        srv.shutdown()


def test_cors_headers(server):
    """≙ reference test_search_should_have_cors_headers
    (tests/test_http.py:24-29): every response carries the open CORS
    origin + the X-Requested-With allow-header."""
    base, _ = server
    code, _, headers = _get(f"{base}/search/?q=the&limit=1")
    assert code == 200
    assert headers["Access-Control-Allow-Origin"] == "*"
    assert headers["Access-Control-Allow-Headers"] == "X-Requested-With"


def test_multi_mixed_params_and_separator(server):
    """≙ reference test_multi_mixed (tests/test_http.py:381-400):
    repeated filter parameters AND separator-joined values in one
    request combine into a single OR list."""
    base, _ = server
    code, body, _ = _get(
        f"{base}/search/?q=the+run&role=assistant&role=user+tool&limit=20"
    )
    assert code == 200
    assert body["hits"], "mixed multi-value filter matched nothing"
    assert all(
        h["role"] in ("assistant", "user", "tool") for h in body["hits"]
    )
    roles = {h["role"] for h in body["hits"]}
    assert len(roles) >= 2, f"expected OR across values, got {roles}"


def test_query_logging(server, tmp_index_root, tmp_path):
    """≙ reference LOG_QUERIES / LOG_NOT_FOUND / SLOW_QUERIES
    (http/base.py:18-74): tab-separated midnight-rotated files."""
    import dataclasses

    from addok_spark.serving.local import LocalSearchEngine

    _, engine = server
    cfg = dataclasses.replace(
        engine.cfg,
        log_dir=str(tmp_path),
        log_queries=True,
        log_not_found=True,
        slow_queries=1,  # 1 ms: everything counts as slow
    )
    local = LocalSearchEngine(f"{tmp_index_root}/http_idx", cfg)
    srv, port = serve_background(local)
    try:
        _get(f"http://127.0.0.1:{port}/search/?q=the+model+output")
        _get(f"http://127.0.0.1:{port}/search/?q=zzzznotfoundzzzz")
    finally:
        srv.shutdown()
    queries = (tmp_path / "queries.log").read_text().splitlines()
    assert len(queries) == 2
    first = queries[0].split("\t")
    assert first[0] == "the model output" and "#" in first[1]
    assert float(first[2]) > 0
    assert queries[1].split("\t")[1:] == ["-", "-"]
    notfound = (tmp_path / "notfound.log").read_text().splitlines()
    assert notfound == ["zzzznotfoundzzzz"]
    slow = (tmp_path / "slow_queries.log").read_text().splitlines()
    assert len(slow) == 2 and all(
        int(ln.split("\t")[0]) >= 1 for ln in slow
    )


def test_query_logging_isolated_per_server(server, tmp_index_root, tmp_path):
    """Two servers in one process with different log dirs must not
    cross-write (per-instance logger names)."""
    import dataclasses

    from addok_spark.serving.local import LocalSearchEngine

    _, engine = server
    dirs = [tmp_path / "a", tmp_path / "b"]
    servers = []
    for d in dirs:
        d.mkdir()
        cfg = dataclasses.replace(
            engine.cfg, log_dir=str(d), log_queries=True
        )
        local = LocalSearchEngine(f"{tmp_index_root}/http_idx", cfg)
        servers.append(serve_background(local))
    try:
        _get(f"http://127.0.0.1:{servers[0][1]}/search/?q=alpha+one")
        _get(f"http://127.0.0.1:{servers[1][1]}/search/?q=beta+two")
    finally:
        for srv, _ in servers:
            srv.shutdown()
    a = (dirs[0] / "queries.log").read_text()
    b = (dirs[1] / "queries.log").read_text()
    assert "alpha one" in a and "beta two" not in a
    assert "beta two" in b and "alpha one" not in b


def test_multi_value_filters_can_be_disabled_e2e(spark, tmp_index_root):
    """≙ reference test_multi_value_filters_can_be_disabled
    (tests/test_http.py:297-318) end-to-end: with
    filters_multi_value_separator=None a filter value is NEVER split
    (a literal value containing the would-be separator matches
    exactly), while repeated query parameters still OR."""
    from addok_spark.serving.local import LocalSearchEngine

    cfg = EngineConfig(
        build_partitions=4, doc_bucket_bits=4, posting_block_size=8,
        common_threshold=400, filters_multi_value_separator=None,
    )
    rows = [
        ("conv-lit", 0, "user", "separator test item", "foo bar", 0.5),
        ("conv-st", 0, "user", "separator test street", "street", 0.5),
        ("conv-ci", 0, "user", "separator test city", "city", 0.5),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
        " tool string, importance double",
    )
    paths = build_index(spark, df, cfg, f"{tmp_index_root}/http_nosep")
    srv, port = serve_background(LocalSearchEngine(paths, cfg))
    base = f"http://127.0.0.1:{port}"
    try:
        # tool=foo+bar decodes to "foo bar": NOT split, matches the
        # literal value
        code, body, _ = _get(f"{base}/search/?q=separator+test&tool=foo+bar")
        assert code == 200
        assert [h["conv_id"] for h in body["hits"]] == ["conv-lit"]
        # repeated parameters still OR with the separator disabled
        code, body, _ = _get(
            f"{base}/search/?q=separator+test&tool=street&tool=city"
        )
        assert code == 200
        assert {h["conv_id"] for h in body["hits"]} == {"conv-st", "conv-ci"}
    finally:
        srv.shutdown()
