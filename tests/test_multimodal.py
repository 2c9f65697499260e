"""Contract tests for the multimodal Arrow runners (operators/multimodal.py):
byte-pinned fixtures, ``id_col`` honoured by every payload kernel, and
Python workers that import the package wherever the driver starts."""

from __future__ import annotations

import hashlib
import os
import struct
import subprocess
import sys
import textwrap

import pytest

from wafer_defect_data_pipeline_spark.operators import multimodal as mm
from wafer_defect_data_pipeline_spark.sources import read_table

from .conftest import REPO_ROOT

#: sha256 of each fixture's ``(id, payload)`` stream over the sf0.001
#: documents, ordered by id (see ``_stream_digest``). The decode oracles
#: check decoded statistics only, so these pin the bytes themselves: a
#: re-encoded fixture, or a truncated variant cut at another offset, fails
#: here even when it still decodes to the same stats.
FIXTURE_DIGESTS = {
    "attach_jpeg_420_payload": "7a7e3b9f85a77e9790e6eb99e0d49951dc485d9c4a9655ab404b1b0572aeb667",
    "attach_jpeg_color_payload": "898b35e4fab602ecca75353d346766075d089dbb711529a97b8f99048ca63d71",
    "attach_jpeg_payload": "d131280816fea66eb4a12a8c53cca847d580ea6eb47a073700dd8d6cac72c945",
    "attach_jpeg_progressive_payload": "25db245cdfd66c08bcc5783b1774995ca94718061abbee5ce732487b19258575",
    "attach_mixed_audio_payloads": "dbe3d8edb1e2a73bc4edadf61cb22d26ef7a2ce7e457b5eca0af2841ab335567",
    "attach_mixed_image_payloads": "706c86bd49b0416b120ef2a333acc266848c015bed52444ead188edb588f6757",
    "attach_mixed_video_payloads": "6ed9c31865ebd089bba82bf88086f7fe1d59d2e44cb741dca307d6801c1e1794",
    "attach_pcm_payload_random": "c75e48ee3e2bbe6114c78eb1bff3959f87ca428801048569a411ade81b57c2e6",
    "attach_png_payload": "87eaaf03afe143f725477623d642d0910bccc1b718d0c2c140d1c8d6c2310faf",
    "attach_ppm_payload": "db6dfb62a6a1ed74c3405b34f2ebd4b81538c66d4289379c10e0849f4a959334",
    "attach_ppm_payload_random": "8db8828a1213c85fcb03d75ae9d08b2202f668702eef07a25c80f57d85cfc430",
    "attach_tone_payload": "739407312d2779772bb28fc208b2705f175508c160f3441ed3512b77bba471d1",
    "attach_wav_payload": "5abe631449bc6495d4246751578b49b113fd9b81daaa14d868be95379a050585",
    "attach_y4m_payload": "23bf6d8e68a911bc86a47328b328988169e1ceccf5849899611c3ab414f5b535",
    "attach_y4m_payload_random": "fae9b4fa75b985f1b9c51e302ab033397463f62a6cba1cfb4c8450e40faaae23",
}


def _stream_digest(df) -> str:
    pdf = df.toPandas().sort_values("doc_id")
    h = hashlib.sha256()
    for i, payload in zip(pdf["doc_id"], pdf["payload"]):
        h.update(struct.pack("<qq", int(i), len(payload)))
        h.update(payload)
    return h.hexdigest()


@pytest.mark.parametrize("name", sorted(FIXTURE_DIGESTS))
def test_fixture_bytes_pinned(spark, sf_small, name):
    docs = read_table(spark, sf_small, "documents")
    assert _stream_digest(getattr(mm, name)(docs)) == FIXTURE_DIGESTS[name]


#: each payload kernel with a fixture it can read, called with a given id_col
_KERNELS = {
    "extract_metadata": (mm.attach_ppm_payload, mm.extract_metadata),
    "decode_image": (mm.attach_ppm_payload, mm.decode_image),
    "decode_image_quarantine": (
        mm.attach_mixed_image_payloads,
        lambda df, **kw: mm.decode_image(df, on_error="quarantine", **kw),
    ),
    "decode_audio": (mm.attach_wav_payload, mm.decode_audio),
    "decode_video_frames": (mm.attach_y4m_payload, mm.decode_video_frames),
    "sample_frames": (mm.attach_ppm_payload, mm.sample_frames),
    "resize_image": (mm.attach_ppm_payload, lambda df, **kw: mm.resize_image(df, 4, 3, **kw)),
    "extract_features": (mm.attach_ppm_payload, mm.extract_features),
    "audio_spectrum_stats": (mm.attach_tone_payload, mm.audio_spectrum_stats),
    "image_ahash": (mm.attach_ppm_payload_random, mm.image_ahash),
    "audio_fingerprint": (mm.attach_pcm_payload_random, mm.audio_fingerprint),
    "video_frame_hashes": (mm.attach_y4m_payload_random, mm.video_frame_hashes),
}


@pytest.mark.parametrize("kernel", sorted(_KERNELS))
def test_payload_kernels_emit_the_given_id_col(spark, kernel):
    attach, run = _KERNELS[kernel]
    assets = spark.range(6).withColumnRenamed("id", "asset_id")
    out = run(attach(assets, id_col="asset_id"), id_col="asset_id")
    assert out.columns[0] == "asset_id" and "doc_id" not in out.columns
    assert {r.asset_id for r in out.select("asset_id").collect()} == set(range(6))


_WORKER_SCRIPT = textwrap.dedent(
    """
    import sys

    sys.path.insert(0, sys.argv[1])
    from tests.wafer_fixture import make_wafer_pdf
    from wafer_defect_data_pipeline_spark.operators import clustering
    from wafer_defect_data_pipeline_spark.operators.multimodal import (
        attach_ppm_payload,
        decode_image,
    )
    from wafer_defect_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="wdps-worker-path", parallelism=2)
    ids = spark.range(8).withColumnRenamed("id", "doc_id")
    assert len(decode_image(attach_ppm_payload(ids)).collect()) == 8
    clustering.LOCAL_MAX_ROWS = 0  # keep the parity kernel in a Python worker
    labels = clustering.run_kmeans_by_step(spark.createDataFrame(make_wafer_pdf(300)), mode="parity")
    assert labels.filter("KMeans_Cluster IS NOT NULL").count() > 0
    spark.stop()
    print("worker-path-ok")
    """
)


def test_workers_import_the_package_wherever_the_driver_starts():
    """Arrow kernels are pickled by reference, so the Python workers import
    the package themselves: a driver started outside the repo root, with
    the repo only on its OWN sys.path, must still run a multimodal kernel
    and the k-means parity kernel in its executor venue."""
    from wafer_defect_data_pipeline_spark.scratch import run_dir

    cwd = run_dir("worker_path")
    os.makedirs(cwd)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_SCRIPT, str(REPO_ROOT)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and "worker-path-ok" in proc.stdout, proc.stderr[-3000:]
