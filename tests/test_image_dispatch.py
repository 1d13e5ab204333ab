"""S4 image-input dispatch: the reference's `_load_image` input-kind
handling (`src/localmod/classifiers/nsfw_image.py:79-108`) at the byte
level."""

import base64
import io

import pytest

from localmod_spark.operators.multimodal import load_image_bytes

PAYLOAD = bytes(range(64)) * 4  # 256 deterministic fixture bytes


def test_dispatch_bytes_and_bytearray():
    assert load_image_bytes(PAYLOAD) == PAYLOAD
    assert load_image_bytes(bytearray(PAYLOAD)) == PAYLOAD


def test_dispatch_local_path_str_and_pathlib(tmp_path):
    p = tmp_path / "img.bin"
    p.write_bytes(PAYLOAD)
    assert load_image_bytes(str(p)) == PAYLOAD
    assert load_image_bytes(p) == PAYLOAD


def test_dispatch_data_url():
    url = "data:image/png;base64," + base64.b64encode(PAYLOAD).decode()
    assert load_image_bytes(url) == PAYLOAD
    with pytest.raises(ValueError, match="data URL"):
        load_image_bytes("data:image/png;hex,00ff")


def test_dispatch_file_like():
    assert load_image_bytes(io.BytesIO(PAYLOAD)) == PAYLOAD


def test_dispatch_http_url_needs_fetcher():
    with pytest.raises(NotImplementedError, match="fetch_url"):
        load_image_bytes("https://example.com/x.png")
    fetched = load_image_bytes("https://example.com/x.png", fetch_url=lambda u: PAYLOAD)
    assert fetched == PAYLOAD


def test_dispatch_rejects_pil_like_and_unknown():
    class FakePIL:
        mode = "RGB"

        def convert(self, mode):
            return self

    with pytest.raises(TypeError, match="decode"):
        load_image_bytes(FakePIL())
    with pytest.raises(ValueError, match="Unsupported image input type"):
        load_image_bytes(12345)
