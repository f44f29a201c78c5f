"""Golden bytes for every public media writer.

The registry oracles check DECODED features, so a writer could change
its bytes (chunk order, padding, Huffman table layout) and every oracle
would still pass. These digests pin the bytes themselves: each writer
runs over a small grid (media ids 0-2, the sizes the registry uses, and
each keyword variant) and the sha256 of every output folds into one
digest per writer. No Spark.
"""

from __future__ import annotations

import hashlib
import inspect
import re

import pytest

from query_engine_spark.llmdata import multimodal as M
from query_engine_spark.llmdata import webp as W

IDS = (0, 1, 2)


def _exif_kw(i: int) -> dict:
    return dict(
        endian="II" if i % 2 == 0 else "MM", make=f"Cam{i}", model=f"M-{i}",
        orientation=1 + i, taken_at=f"2023:0{1 + i}:1{i} 0{i}:00:00",
        pixel_x=16 + i, pixel_y=8 + i,
        gps=("N", [(i, 1), (7, 1), (1234, 100)], "W", [(2 * i, 2), (5, 1), (99, 100)]),
    )


def _flac_samples(i: int, n: int) -> list[int]:
    return [((i * 131 + k * 17) % 65536) - 32768 for k in range(n)]


def _webp_px(i: int, w: int, h: int) -> list[int]:
    return [
        W._argb(255 - (x + y) % 2, (i * 31 + y * 7 + x * 3) % 256, (i + x * 5) % 256, (y * 11) % 256)
        for y in range(h)
        for x in range(w)
    ]


def _webp_frames(i: int) -> list[dict]:
    return [
        dict(x=0, y=0, w=6, h=4, pixels=_webp_px(i, 6, 4), dur_ms=50, blend="none"),
        dict(x=2, y=2, w=3, h=2, pixels=[W._argb(255, i, 2, 3)] * 6, dispose=True,
             vp8l={"subtract_green": True}),
    ]


# writer name -> thunks over the grid
GRID: dict[str, list] = {
    "build_exif_app1": [lambda: M.build_exif_app1()] + [lambda i=i: M.build_exif_app1(**_exif_kw(i)) for i in IDS],
    "build_id3": [
        lambda i=i, v=v: M.build_id3(
            [("TIT2", f"T{i}", 0), ("TPE1", f"A♪{i}", 1 if v == 3 else 3)], version=v, audio=bytes(range(i * 5))
        )
        for i in IDS
        for v in (3, 4)
    ],
    "encode_flac": [
        lambda i=i, ch=ch, fs=fs: M.encode_flac(_flac_samples(i, 300 * ch), 8000 + 4000 * i, frame_size=fs, channels=ch)
        for i in IDS
        for ch in (1, 2)
        for fs in (128, 256)
    ],
    "encode_jpeg_blocks": [
        lambda i=i, ri=ri: M.encode_jpeg_blocks([M.jpeg_qcoefs(i, b) for b in range(6)], 3, 2, restart_interval=ri)
        for i in IDS
        for ri in (None, 1, 2, 3)
    ],
    "encode_jpeg_progressive": [
        lambda i=i: M.encode_jpeg_progressive({0: [M.jpeg_qcoefs(i, b) for b in range(4)]}, 2, 2) for i in IDS
    ]
    + [
        lambda i=i, lh=lh, lv=lv: M.encode_jpeg_progressive(
            {
                0: [M.jpeg_color_qcoefs(i, b, 0) for b in range(4 * lh * lv)],
                1: [M.jpeg_color_qcoefs(i, b, 1) for b in range(4)],
                2: [M.jpeg_color_qcoefs(i, b, 2) for b in range(4)],
            },
            2, 2, luma_h=lh, luma_v=lv,
        )
        for i in IDS
        for lh, lv in ((1, 1), (2, 1), (2, 2))
    ],
    "encode_qoi": [
        lambda i=i, ch=ch: M.encode_qoi(
            5, 4, [((i * 31 + k * 3) % 256, (k // 3) % 256, 7, 255 if ch == 3 else (k * 40) % 256) for k in range(20)],
            channels=ch,
        )
        for i in IDS
        for ch in (3, 4)
    ],
    "encode_rle8_frame": [
        lambda i=i: M.encode_rle8_frame([[M.rle8_frame_index(i, 0, x, y) for x in range(7 + i)] for y in range(5)])
        for i in IDS
    ],
    "encode_wav_adpcm": [
        lambda i=i: M.encode_wav_adpcm(i * 100 - 50, i * 7, [M.adpcm_nibble(i, j) for j in range(1, 40 + i)]) for i in IDS
    ],
    "make_aiff": [lambda i=i: M.make_aiff(i, 500 + i % 6 * 80, 8000 + i % 3 * 8000) for i in IDS],
    "make_au": [lambda i=i: M.make_au(i, 400 + i % 5 * 60, 8000 + i % 3 * 4000) for i in IDS],
    "make_avi": [lambda i=i: M.make_avi(i, 4 + i % 5, 3 + i % 4, 6) for i in IDS],
    "make_avi_mjpeg": [lambda i=i: M.make_avi_mjpeg(i, 3) for i in IDS],
    "make_avi_rle8": [lambda i=i: M.make_avi_rle8(i, 6 + i % 5, 5 + i % 4, 2 + i % 2) for i in IDS],
    "make_bmp": [lambda i=i: M.make_bmp(i, 4 + i % 5, 3 + i % 4) for i in IDS],
    "make_bmp8": [lambda i=i: M.make_bmp8(i, 20 + i % 5, 15 + i % 4) for i in IDS],
    "make_bmp_rle8": [lambda i=i: M.make_bmp_rle8(i, 17 + i % 5, 11 + i % 4) for i in IDS],
    "make_bmp_topdown": [lambda i=i: M.make_bmp_topdown(i, 4 + i % 5, 3 + i % 4) for i in IDS],
    "make_fits": [lambda i=i, b=b: M.make_fits(i, 11 + i % 5, 9 + i % 4, bitpix=b) for i in IDS for b in (8, 16, 32)],
    "make_flac": [lambda i=i: M.make_flac(i, 600 + i % 7 * 100, 8000 + i % 4 * 4000) for i in IDS],
    "make_flac24": [lambda i=i: M.make_flac24(i, 500 + (i % 5) * 111, 8000 + (i % 3) * 8000) for i in IDS],
    "make_gif": [
        lambda i=i, il=il, lp=lp: M.make_gif(i, 28 + i % 5, 18 + i % 4, interlace=il, local_palette=lp)
        for i in IDS
        for il in (False, True)
        for lp in (False, True)
    ],
    "make_gif_animated": [lambda i=i: M.make_gif_animated(i, 10 + i % 5, 8 + i % 4, 3, delay_cs=5 + i) for i in IDS],
    "make_gif_animated_composited": [lambda i=i: M.make_gif_animated_composited(i, 14 + i % 4, 10 + i % 3, 4) for i in IDS],
    "make_gif_animated_disposals": [lambda i=i: M.make_gif_animated_disposals(i, 14 + i % 4, 10 + i % 3, 5) for i in IDS],
    "make_gif_animated_local_palettes": [
        lambda i=i: M.make_gif_animated_local_palettes(i, 14 + i % 4, 10 + i % 3, 4) for i in IDS
    ],
    "make_ico": [lambda i=i: M.make_ico(i) for i in IDS],
    "make_ico_dib": [lambda i=i: M.make_ico_dib(i, 4 + i, 3 + i) for i in IDS],
    "make_jpeg": [lambda i=i: M.make_jpeg(i, 2 + i % 2, 2 + (i // 2) % 2) for i in IDS] + [lambda: M.make_jpeg(5, 1, 1)],
    "make_jpeg_420": [lambda i=i: M.make_jpeg_420(i, 1 + i % 2, 1 + (i // 2) % 2) for i in IDS],
    "make_jpeg_422": [lambda i=i: M.make_jpeg_422(i, 1 + i % 2, 1 + (i // 2) % 2) for i in IDS],
    "make_jpeg_cmyk": [lambda i=i: M.make_jpeg_cmyk(i, 2 + i % 2, 2 + (i // 2) % 2) for i in IDS],
    "make_jpeg_color": [lambda i=i: M.make_jpeg_color(i, 2 + i % 2, 2 + (i // 2) % 2) for i in IDS],
    "make_jpeg_exif": [lambda i=i: M.make_jpeg_exif(i, 2 + i % 2, 2 + (i // 2) % 2) for i in IDS],
    "make_jpeg_subsampled": [
        lambda i=i, lh=lh, lv=lv: M.make_jpeg_subsampled(i, 2, 1 + i % 2, luma_h=lh, luma_v=lv)
        for i in IDS
        for lh, lv in ((1, 1), (2, 1), (1, 2), (2, 2))
    ],
    "make_mp3_id3": [lambda i=i: M.make_mp3_id3(i) for i in IDS],
    "make_mp4_mjpeg": [lambda i=i: M.make_mp4_mjpeg(i, 4 + (i % 5) % 3, pattern=i % 24) for i in IDS]
    + [lambda: M.make_mp4_mjpeg(1, 2)],
    "make_mpeg_audio": [lambda i=i: M.make_mpeg_audio(i) for i in IDS],
    "make_png": [
        lambda i=i, ct=ct, il=il: M.make_png(i, 4 + i % 5, 3 + i % 4, color_type=ct, interlace=il)
        for i in IDS
        for ct in (0, 2, 3, 4, 6)
        for il in (False, True)
    ],
    "make_png16": [
        lambda i=i, ct=ct, il=il: M.make_png16(i, 7 + i % 4, 5 + i % 3, color_type=ct, interlace=il)
        for i in IDS
        for ct in (0, 2)
        for il in (False, True)
    ],
    "make_png_packed": [
        lambda i=i, d=d, ct=ct, il=il: M.make_png_packed(i, 11 + i % 5, 7 + i % 4, depth=d, color_type=ct, interlace=il)
        for i in IDS
        for d in (1, 2, 4)
        for ct in (0, 3)
        for il in (False, True)
    ],
    "make_pnm": [lambda i=i: M.make_pnm(i, 7 + i % 4, 5 + i % 3) for i in IDS],
    "make_qoi": [lambda i=i: M.make_qoi(i, 9 + i % 4, 8 + i % 3) for i in IDS],
    "make_sphere": [lambda i=i: M.make_sphere(i, 500 + i % 6 * 80, 16000) for i in IDS],
    "make_subtitles": [lambda i=i: M.make_subtitles(i, 3 + i % 4) for i in IDS],
    "make_svg": [lambda i=i: M.make_svg(i) for i in IDS],
    "make_tiff": [
        lambda i=i, c=c, bo=bo: M.make_tiff(i, 20 + i % 5, 15 + i % 4, compression=c, byte_order=bo)
        for i in IDS
        for c in (1, 5, 32773)
        for bo in ("II", "MM")
    ]
    + [lambda: M.make_tiff(1, 4, 3, rows_per_strip=2)],
    "make_tiff_multipage": [
        lambda i=i, bo=bo: M.make_tiff_multipage(i, 16 + i % 5, 12 + i % 4, 3, byte_order=bo)
        for i in IDS
        for bo in ("II", "MM")
    ],
    "make_tiff_rgb": [
        lambda i=i, c=c, bo=bo: M.make_tiff_rgb(i, 9 + i % 4, 8 + i % 3, compression=c, byte_order=bo)
        for i in IDS
        for c in (1, 5, 32773)
        for bo in ("II", "MM")
    ],
    "make_wav": [lambda i=i: M.make_wav(i, 600 + i % 7 * 100 + i, 8000 + i % 4 * 4000) for i in IDS],
    "make_wav24": [lambda i=i: M.make_wav24(i, 500 + (i % 5) * 111, 8000 + (i % 3) * 8000) for i in IDS],
    "make_wav_adpcm": [lambda i=i: M.make_wav_adpcm(i, 200 + (i % 5) * 40 + i) for i in IDS],
    "make_wav_alaw": [lambda i=i: M.make_wav_alaw(i, 400 + (i % 5) * 50 + i) for i in IDS],
    "make_wav_extensible": [
        lambda i=i, ch=ch: M.make_wav_extensible(i, 180 + (i % 4) * 61, channels=ch) for i in IDS for ch in (1, 4, 6)
    ],
    "make_wav_mulaw": [lambda i=i: M.make_wav_mulaw(i, 400 + (i % 5) * 50 + i) for i in IDS],
    "make_wav_multich": [
        lambda i=i, ch=ch: M.make_wav_multich(i, 200 + (i % 5) * 53, channels=ch, sample_rate=8000 + (i % 3) * 8000)
        for i in IDS
        for ch in (1, 3, 4, 6)
    ],
    "make_wav_stereo": [lambda i=i: M.make_wav_stereo(i, 400 + i % 5 * 100, 16000) for i in IDS],
    "make_wav_tone": [lambda i=i: M.make_wav_tone(i * 3 + 1, 256, 8000) for i in IDS],
    "make_woff": [lambda i=i: M.make_woff(i) for i in IDS],
    "encode_webp": [
        lambda i=i, kw=kw: W.encode_webp(6, 5, _webp_px(i, 6, 5), **kw)
        for i in IDS
        for kw in (
            {},
            {"subtract_green": True},
            {"predictor": 1 + i * 5},
            {"cross_color": (i, 3 * i, 7 * i)},
            {"lz77": True, "cache_bits": 2 + i},
            {"meta_bits": 2, "cache_bits": 3},
        )
    ]
    + [lambda: W.encode_webp(4, 3, [W._argb(255, 9, 8, 7), W._argb(255, 1, 2, 3)] * 6, palette=True)],
    "encode_webp_anim": [lambda i=i: W.encode_webp_anim(8, 6, _webp_frames(i), bg_argb=0xFF102030, loop=i) for i in IDS],
    "make_webp": [lambda i=i: W.make_webp(i, 9 + i % 4, 8 + i % 3) for i in range(6)],
    "make_webp_animated": [lambda i=i: W.make_webp_animated(i) for i in IDS],
    "make_webp_lossy": [lambda i=i: W.make_webp_lossy(i, 16 + i % 13, 16 + i % 9) for i in IDS],
    "make_webp_palette": [lambda i=i: W.make_webp_palette(i, 10, 8, 2 + i * 9) for i in IDS],
}

GOLDEN = {
    "build_exif_app1": "e60f8360d4fa9a4d74623ce20df5c2148a8aae22a4e99be7c883d88789ce87f9",
    "build_id3": "e07d31df6410e7ca01e62b8ca8d5aeb2cd341e3dce387db94da8d1779d1462f3",
    "encode_flac": "c69ce4db924d596934a2b189c73073e32a12bf5bfd0ba102b2e69f89488b4916",
    "encode_jpeg_blocks": "b9d745c9ee3a77b47d5057cbd85569fcd491c6f4a7d7ed9e157d4cc59a141ef6",
    "encode_jpeg_progressive": "75d1e1c52836dd93e7d41d0c18966a14e80df6a47b158abe965e218f377d4e87",
    "encode_qoi": "a6f92bb2155e6f6f39d3579f207e6d38dde27aea12bc868ca8f73d6ad4f7ec45",
    "encode_rle8_frame": "fd026856450be573a76616b6f20159bf4e91de39611c8e90b3816efae48d4825",
    "encode_wav_adpcm": "d502a8e009efda7e0eb3c3239ed0252481ca9a99f4f9cc5e11e7d8f02bc176f2",
    "encode_webp": "ac52df1968331310ef31cd6bb1c785b1aaf7d9f1ef02ba31fa04371d782ae88b",
    "encode_webp_anim": "48c0c7974fed0f8c2f7d8740a088264f105fef364548d06445566b1104b52c82",
    "make_aiff": "6d2dcdeb91ef00af3c837d470454fe9a474b830a504c00255fe7f36c6683b50d",
    "make_au": "a96a7a4baea2dcf8f038d9f886730b4e0ab6ef75e380e209d374d10e5d21504d",
    "make_avi": "2430e1877c3f31f518c85215f5b5bbcb4f36e48b67868be63163b2d94ca7c3f4",
    "make_avi_mjpeg": "279e01314838fd85e53b9066f45e99f3997cffdcae2407e62a887cbeabd44a4b",
    "make_avi_rle8": "2749518c356b0e4c9f763f6fa72a83db82daaee02d0dcc69f2a481a0068e8580",
    "make_bmp": "83c9e02c63ad542bfa4a36f7abe695c3ab13f26db7ac3144bf0f74c6fc9567d9",
    "make_bmp8": "0124867c0d7c8fd860026717b7a19a5232ed98cf4666aab264e023359481660d",
    "make_bmp_rle8": "c8c69ad8bc559c063239b1a5e746bef00ed1afe5c3de3cca741d4d7d21dacf00",
    "make_bmp_topdown": "bb5bc6596e791a3477ff6e9bb9434cc0fbd753e7e22e6c3ff42560e33001f563",
    "make_fits": "ba00e7db00345e1518ead0c81e4bcfee10d4074aaf5ac98e954edf79396521a2",
    "make_flac": "82069dab8b054e368023035fe4b97c63959cbf2dd444e554371328e8de227597",
    "make_flac24": "84077daa68acd93b4b8b50f3ba88c6ab2728104f20a993f79f58a0b6a4cbaffc",
    "make_gif": "4fea24b5b740c878149f384ac04ce2c2faf36ba441bc815fe661e70cd14fbc12",
    "make_gif_animated": "a44475764c53bd0c4821e0b6171e133f5c2dad8c06d8486662f0edd8e90fe86a",
    "make_gif_animated_composited": "d6ebb3769ea9c73a5e3fc2a7464ffcc3759e4ce0c04f6870e123413cfc3b748d",
    "make_gif_animated_disposals": "b5cab168e2396e2ee1dd3d9bd1543539853691fd374df9024facf5900029555a",
    "make_gif_animated_local_palettes": "4f214b85ca37b6c8dcde5fc58a16d0a79d4a40201dea8fb42ae3c32c69b9173a",
    "make_ico": "5ba24e3709d2a930e89f971a0af86adfe8ffe9604dd2763ac51f2c3626192e3a",
    "make_ico_dib": "26e6f875a7bb2abbf7d691fb1e82fa47b4bfc1594de1ccb71b84f29a40630a86",
    "make_jpeg": "bf097db638f7164ba3a0099e365f3bbe6c385f1f2af4e3dc8da876bb8d031798",
    "make_jpeg_420": "13e793ea302b94a2af7e3d5958ba8c4fdb845718ce31e21a655f384a749305a5",
    "make_jpeg_422": "3d92b5dec23627a51968c01ab15cfd30e0646a032bfd45dcb8921efb5e9681fe",
    "make_jpeg_cmyk": "b0cbd5cb08501f879ddea0ba6f74106c6de5b6f5554a7b59c378d7b556795aa3",
    "make_jpeg_color": "24bb09a603362a33930c347db9c8e3d2dab09a6c9a905cefb65492b687beb0ab",
    "make_jpeg_exif": "5de5bb88f5b434d1b87862af179e553626bbc6c28c565ca54caefad126bac34c",
    "make_jpeg_subsampled": "ebff9c48f66e5d92e23e5d4c33c802c0354eae35783dcb4ab3c21e23c58c7a0a",
    "make_mp3_id3": "25ae597cbbda2e51f4213cd13f71d20052f2afc83b69a0e487b6db640dce1ef0",
    "make_mp4_mjpeg": "b17fd68c7dd99349902c35e5f68d342b3ec0fa59d2b21855f488c51c68430020",
    "make_mpeg_audio": "e4afe5d579425145f0ceabfc1829016dce87d20f5f30f0f1037ae0955f6feb92",
    "make_png": "61ba3ac8c653a61aa387c3c619dc64aca0841ef1be0b24f52491dc6add4c287b",
    "make_png16": "633e0d4caedb5b09acd74cac104213b8f065fe0b8c57fbe8fbd1601745e6fa7e",
    "make_png_packed": "60aebd4a254f6e09cd8270926a26324b92697ba6b10458de26f127da9a884b7a",
    "make_pnm": "ea08525d8b285c190b9ca85b7f66cf1620bbe497e78a49e444d4bf4e25ffe974",
    "make_qoi": "f8f9c937069cc1a8079b971eeda659533aebcc455e60fb183db98f6406a3ca47",
    "make_sphere": "8a1590a3f8d20294ca8281ebe50bb45e0ef4d398049dbbe3a7af90dec98b3fac",
    "make_subtitles": "21972bb680a046ea24e55aab2fafa616614b044e1756011a6f52cafc49a69b96",
    "make_svg": "80903de4b2fa7667214bee00a886fa5f9a7a485a3144bec92f6ac0213bbe190b",
    "make_tiff": "efd322bc53f0b9ddee70c2a570281bbce1c698add9b8f6c8f849de4f9585f94c",
    "make_tiff_multipage": "96427e22d9c94568e2d07518f2578542190a4edb3d6d9034dfb690ee06245d6b",
    "make_tiff_rgb": "5d2f47d6db3fe815331f4687cc0eb5f54ed43cc3f010a5f548bc7edcaa0088d0",
    "make_wav": "bc00b9491d133b31dba1f245914738ece11c8df4d5ab44acb2cc089d9bd6887a",
    "make_wav24": "a941dea36073e9680e236eb5c2953f2fcb0a95c9a290c9c067685511c5ef3333",
    "make_wav_adpcm": "dd3a6d47b35da9f07427d1f1a920807c7c56912b8b43be3dadb2bc5c13721895",
    "make_wav_alaw": "cd5deb9308da972034be508c966ab2afe2a1c8224fe2d028189978093eccba48",
    "make_wav_extensible": "1b4bf3397b297a5aaa65f308655bd9e66edb634896565d277336d66201fe8642",
    "make_wav_mulaw": "9c02fab8ea0b576c26af0fba1c9483a7ed727d9ada0ec36da855556e5528ac8f",
    "make_wav_multich": "22d274e85524593bbb78d4ce5e57fe40be7ea06aeb622400433ec14b1dfaad50",
    "make_wav_stereo": "97dfde9e40a15304df4ff9c776e434df7d90230deac0a92224a3a36b58244bb1",
    "make_wav_tone": "83d5cbb53802aa12fdef99dacd345aec5927b9073e90723eebdba654f5f2577d",
    "make_webp": "9e0aaa139672d82dc8cb545e3478e76993f120be467c7ff3e5d8a0840f9e6ba2",
    "make_webp_animated": "09e202573faac5e62ae101d94ed01bd746a8c781222bf7dd98b79f9514be7586",
    "make_webp_lossy": "3d10db0b5324eefb744bdaff5395aaffc7c2eaf2accf8db25b99a4278f0082a0",
    "make_webp_palette": "aaec2eb49b2eed019126f0a77795833b309bbc9ea644cde6eabbda9795bf8a9e",
    "make_woff": "46e8b81ef3d3d58e88f6a68480c328d50ee6ae8c38b87840212995da07805835",
}


def _digest(name: str) -> str:
    h = hashlib.sha256()
    for make in GRID[name]:
        out = make()
        h.update(hashlib.sha256(out.encode() if isinstance(out, str) else out).digest())
    return h.hexdigest()


def test_every_public_writer_is_pinned():
    writers = {
        name
        for mod in (M, W)
        for name, fn in inspect.getmembers(mod, inspect.isfunction)
        if fn.__module__ == mod.__name__ and re.match(r"(make|encode|build)_", name)
    }
    assert sorted(writers ^ set(GRID)) == []
    assert sorted(set(GRID) ^ set(GOLDEN)) == []


@pytest.mark.parametrize("name", sorted(GRID))
def test_writer_golden_bytes(name):
    assert _digest(name) == GOLDEN[name]
