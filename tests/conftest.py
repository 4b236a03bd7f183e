import os
import sys
from pathlib import Path

import pytest

# make sure worker python == driver python
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)

# the reference's tests/data, from a dedoc checkout next to this repository
# unless DEDOC_REFERENCE_DATA names another directory
REFERENCE_DATA = Path(
    os.environ.get(
        "DEDOC_REFERENCE_DATA", Path(__file__).resolve().parents[2] / "reference" / "tests" / "data"
    )
)


@pytest.fixture
def reference_file():
    """``reference_file("scanned/example.jpeg")`` -> path of a file (or,
    for a corpus sweep, a directory) in the reference corpus; the calling
    test is skipped when that path is missing, and runs (and can fail)
    when it is present."""

    def get(relpath: str) -> Path:
        path = REFERENCE_DATA / relpath
        if not path.exists():
            pytest.skip(f"reference corpus path not available: {relpath}")
        return path

    return get


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("dedoc_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


# the smallest members each reader needs before it reads a bomb member,
# then the bomb members: a docx carries one for its reader (styles) and
# one for its attachment channel (media)
_BOMB_CONTAINERS = {
    "docx": ([("word/document.xml", b"<document/>")], ("word/styles.xml", "word/media/image1.png")),
    "xlsx": ([("xl/workbook.xml", b"<workbook/>")], ("xl/worksheets/sheet1.xml",)),
    "pptx": ([("ppt/presentation.xml", b"<presentation/>")], ("ppt/slides/slide1.xml",)),
    "odt": ([("mimetype", b"application/vnd.oasis.opendocument.text")], ("content.xml",)),
    "zip": ([("a.txt", b"a")], ("b.txt",)),
}


@pytest.fixture(scope="session")
def zip_bomb():
    """``zip_bomb(kind)`` -> a .docx/.xlsx/.pptx/.odt/.zip payload whose
    last members each inflate to 4 x MAX_UNZIP_BYTES spaces (about 520 KB
    of deflate each), built once per session with streamed writes."""
    import io
    import zipfile

    from dedoc_spark.core.limits import MAX_UNZIP_BYTES

    built = {}

    def get(kind: str) -> bytes:
        if kind not in built:
            members, bombs = _BOMB_CONTAINERS[kind]
            buf = io.BytesIO()
            with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
                for name, data in members:
                    zf.writestr(name, data)
                chunk = b" " * (1 << 20)
                for bomb in bombs:
                    with zf.open(bomb, "w") as f:
                        for _ in range(4 * MAX_UNZIP_BYTES // len(chunk)):
                            f.write(chunk)
            built[kind] = buf.getvalue()
        return built[kind]

    return get
