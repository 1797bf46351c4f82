"""S2 downloader tests, mirroring reference test/test_get.py scenarios
(permanent cache, expiration, zip expansion, API caching, long-URL hashing,
FTP directory expansion) with an injected local-filesystem fetcher (no
network in the sandbox)."""

import json
import os
import zipfile
from datetime import datetime, timedelta

import pytest

from biocypher_spark.download import APIRequest, Downloader, FileDownload, Resource


class CountingFetcher:
    """Writes deterministic content; counts fetches (the mock_retrieve analogue)."""

    def __init__(self):
        self.calls = 0

    def __call__(self, url, dest):
        self.calls += 1
        if url.endswith(".zip"):
            with zipfile.ZipFile(dest, "w") as zf:
                zf.writestr("file1.csv", "source,target\nA,B\n")
                zf.writestr("file2.csv", "source,target\nC,D\n")
        elif "api" in url:
            with open(dest, "w") as f:
                json.dump({"url": url, "n": self.calls}, f)
        else:
            with open(dest, "w") as f:
                f.write(f"content from {url}\n")


@pytest.fixture
def fetcher():
    return CountingFetcher()


@pytest.fixture
def dl(tmp_path, fetcher):
    return Downloader(cache_dir=str(tmp_path / "cache"), fetcher=fetcher)


def test_resource_types():
    r = Resource("r", "http://x/y.txt", lifetime=3)
    fd = FileDownload("f", ["http://x/a", "http://x/b"])
    api = APIRequest("a", "http://x/api?q=1")
    assert (r.name, r.lifetime) == ("r", 3)
    assert fd.is_dir is False and isinstance(fd.url_s, list)
    assert api.lifetime == 0


def test_download_file_and_cache_record(dl, fetcher):
    paths = dl.download(FileDownload("res1", "http://example.org/data.csv"))
    assert len(paths) == 1 and paths[0].endswith("data.csv")
    assert open(paths[0]).read().startswith("content from")
    record = json.load(open(dl.cache_file))["res1"]
    assert record["url"] == ["http://example.org/data.csv"]
    assert record["lifetime"] == 0
    assert fetcher.calls == 1


def test_permanent_cache_never_expires(dl, fetcher):
    fd = FileDownload("perm", "http://example.org/data.csv", lifetime=0)
    first = dl.download(fd)
    again = dl.download(FileDownload("perm", "http://example.org/data.csv"))
    assert fetcher.calls == 1  # served from cache
    assert first == again


def test_expired_cache_redownloads(dl, fetcher):
    fd = FileDownload("exp", "http://example.org/data.csv", lifetime=7)
    dl.download(fd)
    # age the record beyond its lifetime
    rec = dl.cache_dict["exp"]
    rec["date_downloaded"] = str(datetime.now() - timedelta(days=8))
    with open(dl.cache_file, "w") as f:
        json.dump(dl.cache_dict, f)
    dl.cache_dict = dl._load_cache_dict()
    dl.download(FileDownload("exp", "http://example.org/data.csv", lifetime=7))
    assert fetcher.calls == 2
    # record refreshed -> not expired anymore
    assert not dl._is_cache_expired(FileDownload("exp", "x", lifetime=7))


def test_zip_expansion_returns_members(dl):
    paths = dl.download(FileDownload("zipres", "http://example.org/archive.zip"))
    names = sorted(os.path.basename(p) for p in paths)
    assert names == ["file1.csv", "file2.csv"]
    assert all(".unzip" in p for p in paths)
    assert open(paths[0]).read().startswith("source,target")


def test_url_list_downloads_each(dl, fetcher):
    paths = dl.download(FileDownload("many", ["http://x/a.txt", "http://x/b.txt"]))
    assert len(paths) == 2 and fetcher.calls == 2


def test_api_request_cached_as_json(dl, fetcher):
    api = APIRequest("apires", "http://example.org/api?q=1&fmt=json")
    paths = dl.download(api)
    assert len(paths) == 1 and paths[0].endswith(".json")
    # query params sanitised into the filename (distinct params -> distinct files)
    assert "q_1" in os.path.basename(paths[0])
    assert json.load(open(paths[0]))["n"] == 1
    dl.download(APIRequest("apires", "http://example.org/api?q=1&fmt=json"))
    assert fetcher.calls == 1  # cache hit


def test_api_multiple_urls_distinct_cache_files(dl):
    api = APIRequest("multi", ["http://x/api?q=1", "http://x/api?q=2"])
    paths = dl.download(api)
    assert len(paths) == 2 and len(set(paths)) == 2


def test_long_url_hashed_filename(dl):
    url = "http://example.org/api?" + "&".join(f"p{i}=v{i}" for i in range(60))
    fname = Downloader._trim_filename(url)
    assert len(fname) == 32 and fname.isalnum()  # md5 hex
    short = Downloader._trim_filename("http://x/file.csv?a=1")
    assert short == "file.csv_a_1"


def test_directory_download_via_lister(tmp_path, fetcher):
    dl = Downloader(
        cache_dir=str(tmp_path / "c"),
        fetcher=fetcher,
        dir_lister=lambda url: ["f1.txt", "f2.txt", "f3.txt"],
    )
    paths = dl.download(FileDownload("dir", "ftp://host/pub/dir", is_dir=True))
    assert len(paths) == 3
    assert sorted(os.path.basename(p) for p in paths) == ["f1.txt", "f2.txt", "f3.txt"]


def test_non_ftp_directory_raises(tmp_path, fetcher):
    dl = Downloader(cache_dir=str(tmp_path / "c"), fetcher=fetcher)
    with pytest.raises(NotImplementedError):
        dl.download(FileDownload("d", "http://host/dir", is_dir=True))


def test_unknown_resource_type_raises(dl):
    with pytest.raises(TypeError):
        dl._download_or_cache(Resource("plain", "http://x/y"))


def test_cache_record_without_microseconds(dl, fetcher):
    """str(datetime) omits '.%f' when microsecond == 0; such a record must
    not crash expiry checks (the reference does — _get.py:193)."""
    fd = FileDownload("nomicro", "http://x/y.txt", lifetime=7)
    dl.download(fd)
    # stamped relative to now (a fixed date expires once it is `lifetime`
    # days old); str() of a zero-microsecond datetime has no fraction
    stamp = (datetime.now() - timedelta(days=1)).replace(microsecond=0)
    dl.cache_dict["nomicro"]["date_downloaded"] = str(stamp)
    assert "." not in dl.cache_dict["nomicro"]["date_downloaded"]
    assert dl._is_cache_expired(FileDownload("nomicro", "x", lifetime=7)) is False
