"""Packaging: ccspark.zip must be importable the way --py-files uses it."""

import subprocess
import sys


def test_zip_importable(tmp_path):
    out = tmp_path / "ccspark.zip"
    subprocess.run(
        [sys.executable, "jobs/build_zip.py", str(out)], check=True, cwd="/root/repo"
    )
    # import from the zip ONLY (cwd elsewhere, repo not on the path),
    # exactly how a Spark executor resolves --py-files
    probe = (
        "import sys; sys.path.insert(0, %r); "
        "from ccspark import urls, hashing, mime, chardet; "
        "assert urls.canonicalize_url('http://WWW.Example.com:80/x') == 'http://example.com/x'; "
        "assert hashing.simhash64_bytes(b'12345678') != 0; "
        "assert mime.check_mime_type_disposition('text/html') == 'ACCEPT_HTML'; "
        "assert chardet.alias_charset('sjis') == 'Shift_JIS'; "
        "print('zip-ok')" % str(out)
    )
    res = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env={"PATH": "/usr/bin:/bin", "PYTHONPATH": ""},
    )
    assert res.returncode == 0, res.stderr
    assert "zip-ok" in res.stdout


def test_sources_compile_without_warnings():
    """Every engine, entry-point and job source compiles with warnings as
    errors: an invalid escape sequence in a plain string literal warns
    today and is rejected by later Pythons."""
    import warnings
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    files = sorted(root.glob("ccspark/**/*.py")) + [root / "__spark_entry__.py"] + sorted(root.glob("jobs/*.py"))
    assert len(files) > 30
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        for f in files:
            compile(f.read_text(encoding="utf-8"), str(f), "exec")
