"""Synthetic audiobook corpus for the ``corpus_ingest`` workload.

Every batch is a directory the paper's pipeline ingests as is:

- ``metadata.csv`` in the reference format, narrator cells written as
  Python reprs (``[{'id': 'spk2', 'name': 'Mai'}]``);
- one text per book, half of them as a PDF (UTF-16 hex strings in a
  Flate content stream, the machine-generated case the stdlib extractor
  handles) and half as a ``.txt`` file, in Vietnamese with numbers,
  dates and currency so the semiotic normalizer rewrites fire;
- WAV parts at mixed sample rates, one book per batch (always the
  3 s one) below 16 kHz so the quality gate rejects it;
- ``asr_noise.csv``: the word-substitution rate of the simulated ASR
  hypotheses per book; one qualified book per batch (always the 4.5 s
  one) is noisy enough to fail the 50% WER gate.

Book durations follow one fixed multiset per batch (longest 8x the
shortest, BASELINE.md's 2.5 h vs 20 h scaled down), so every seed
ingests the same amount of audio; the seed permutes which book gets
which length and draws all content. From the second batch on, one book
is a near-copy of an equal-length book of the previous batch, so the
incremental near-dedup has a known pair to find.
"""

from __future__ import annotations

import csv
import json
import os
import zlib
from dataclasses import dataclass, field

import numpy as np

#: seconds of audio per book in every batch (max/min = 8)
DURATIONS_S = (1.5, 2.0, 3.0, 4.5, 6.0, 12.0)
#: the book below 16 kHz and the book too noisy for the WER gate have
#: fixed lengths, so every seed qualifies and keeps the same audio
LOW_RATE_S, NOISY_S = 3.0, 4.5
SAMPLE_RATES = (16000, 22050, 24000, 44100)
LOW_RATES = (8000, 11025)
#: sentences of text per second of audio
SENTENCES_PER_S = 2.0
CLEAN_NOISE = 0.08
NOISY_NOISE = 0.85
NARRATORS = (("spk1", "Lan"), ("spk2", "Mai"), ("spk3", "Hùng"), ("spk4", "Tú"))
AUTHORS = ("Nguyễn Du", "Nam Cao", "Tô Hoài", "Xuân Diệu")
WORDS = (
    "ngày", "xưa", "có", "một", "câu", "chuyện", "rất", "dài", "và", "hay",
    "người", "kể", "nghệ", "sĩ", "giọng", "đọc", "truyền", "cảm", "làng",
    "nhỏ", "yên", "bình", "dân", "sống", "hạnh", "phúc", "bên", "nhau",
    "qua", "nhiều", "thế", "hệ", "quyển", "sách", "nội", "dung", "mùa",
    "xuân", "con", "đường", "dòng", "sông", "ánh", "trăng", "buổi", "sáng",
    "cánh", "đồng", "lúa", "chợ", "phiên", "mẹ", "cha", "em", "bé", "học",
    "trường", "thầy", "giáo", "bạn", "bè", "quê", "hương", "nhà", "cửa",
    "biển", "núi", "rừng", "mưa", "gió", "nắng", "chiều", "tối", "đêm",
)
CSV_COLUMNS = (
    "id", "name", "text_path", "audio_path", "narrator", "duration",
    "author", "text_url", "audio_url", "alignment_path",
    "text_download_url", "audio_download_url", "sample_rate", "quality",
    "word_count", "num_sentences", "audio_size", "text_size",
)


@dataclass
class Book:
    book_id: str
    doc_id: int
    duration_s: float
    part_rates: list[int]
    part_samples: list[int]
    narrator: tuple[str, str]
    noise: float
    as_pdf: bool
    text: str
    copy_of: str | None = None

    @property
    def qualified(self) -> bool:
        return min(self.part_rates) >= 16000


@dataclass
class Batch:
    index: int
    path: str
    books: list[Book] = field(default_factory=list)

    def expected(self) -> dict:
        """Outcomes the pipeline must reproduce for this batch."""
        qualified = sorted(b.book_id for b in self.books if b.qualified)
        kept = sorted(
            b.book_id for b in self.books if b.qualified and b.noise < 0.5
        )
        pairs = sorted(
            tuple(sorted((b.doc_id, int(b.copy_of, 16))))
            for b in self.books if b.copy_of
        )
        return {
            "books": len(self.books),
            "qualified": qualified,
            "kept": kept,
            "near_dup_pairs": [list(p) for p in pairs],
        }


def _sentence(rng: np.random.Generator) -> str:
    words = list(rng.choice(WORDS, int(rng.integers(6, 13))))
    roll = rng.random()
    pos = int(rng.integers(1, len(words)))
    if roll < 0.2:
        words.insert(pos, str(int(rng.integers(2, 999))))
    elif roll < 0.3:
        d, m, y = rng.integers(1, 29), rng.integers(1, 13), rng.integers(1950, 2024)
        words.insert(pos, f"{d}/{m}/{y}")
    elif roll < 0.4:
        amount = int(rng.integers(1, 999)) * 1000
        words.insert(pos, f"{amount:,}".replace(",", ".") + " đ")
    elif roll < 0.45:
        words.insert(pos, f"{int(rng.integers(1, 500))} USD")
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _book_text(rng: np.random.Generator, duration_s: float) -> str:
    n = max(2, int(round(duration_s * SENTENCES_PER_S)))
    return "\n".join(_sentence(rng) for _ in range(n))


def _near_copy(rng: np.random.Generator, text: str) -> str:
    """One word appended to the last sentence: a single new 3-shingle,
    so the word Jaccard stays above 0.9 even for the shortest book."""
    return text[:-1] + " " + str(rng.choice(WORDS)) + "."


def pdf_bytes(text: str) -> bytes:
    """A one-page PDF whose content stream shows each line of ``text``
    as a UTF-16BE hex string (``<FEFF…> Tj``) followed by ``T*``."""
    ops = ["BT", "/F1 12 Tf", "14 TL", "72 720 Td"]
    for line in text.split("\n"):
        ops.append(f"<FEFF{line.encode('utf-16-be').hex().upper()}> Tj T*")
    ops.append("ET")
    content = zlib.compress("\n".join(ops).encode("ascii"))
    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(content)
        + content + b"\nendstream",
        b"<< /Type /Font /Subtype /Type0 /BaseFont /Arial >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" % (
        len(objs) + 1, xref,
    )
    return bytes(out)


def wav_bytes(y: np.ndarray, sr: int) -> bytes:
    """16-bit mono PCM WAV."""
    pcm = (np.clip(y, -1.0, 1.0) * 32767.0).astype("<i2").tobytes()
    hdr = b"RIFF" + (36 + len(pcm)).to_bytes(4, "little") + b"WAVEfmt "
    hdr += (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
    hdr += (1).to_bytes(2, "little") + sr.to_bytes(4, "little")
    hdr += (sr * 2).to_bytes(4, "little") + (2).to_bytes(2, "little")
    hdr += (16).to_bytes(2, "little") + b"data" + len(pcm).to_bytes(4, "little")
    return hdr + pcm


def _speech(rng: np.random.Generator, n: int, sr: int) -> np.ndarray:
    t = np.arange(n) / sr
    f0 = float(rng.uniform(110.0, 260.0))
    env = 0.5 + 0.5 * np.sin(2 * np.pi * float(rng.uniform(2.0, 5.0)) * t)
    y = env * (0.5 * np.sin(2 * np.pi * f0 * t) + 0.2 * np.sin(4 * np.pi * f0 * t))
    return (y + 0.02 * rng.standard_normal(n)).astype(np.float32)


def generate(root: str, seed: int, n_batches: int) -> list[Batch]:
    """Write ``n_batches`` batch directories under ``root`` and return
    their descriptions; every batch has one book per entry of
    ``DURATIONS_S``. Same ``seed`` → byte-identical files."""
    rng = np.random.default_rng([seed, 0x5A17])
    batches: list[Batch] = []
    doc_id = 1
    for bi in range(n_batches):
        path = os.path.join(root, f"batch_{bi:03d}")
        os.makedirs(os.path.join(path, "audio"), exist_ok=True)
        os.makedirs(os.path.join(path, "text"), exist_ok=True)
        batch = Batch(bi, path)
        order = [float(d) for d in rng.permutation(DURATIONS_S)]
        slots = len(order)
        low_slot, noisy_slot = order.index(LOW_RATE_S), order.index(NOISY_S)
        copy_slot = int(rng.integers(0, slots)) if bi > 0 else -1
        pdf_slots = set(rng.permutation(slots)[: slots // 2].tolist())
        for slot, dur in enumerate(order):
            book_id = f"{doc_id:08x}"
            sr = int(rng.choice(SAMPLE_RATES))
            n_parts = int(rng.integers(1, 4))
            rates = [sr] * n_parts
            if slot == low_slot:
                rates[int(rng.integers(0, n_parts))] = int(rng.choice(LOW_RATES))
            shares = rng.dirichlet(np.full(n_parts, 4.0))
            samples = [max(1, int(round(dur * s * r))) for s, r in zip(shares, rates)]
            text = _book_text(rng, dur)
            copy_of = None
            if slot == copy_slot:
                src = next(b for b in batches[-1].books if b.duration_s == dur)
                text, copy_of = _near_copy(rng, src.text), src.book_id
            batch.books.append(Book(
                book_id=book_id, doc_id=doc_id, duration_s=dur,
                part_rates=rates, part_samples=samples,
                narrator=NARRATORS[int(rng.integers(0, len(NARRATORS)))],
                noise=NOISY_NOISE if slot == noisy_slot else CLEAN_NOISE,
                as_pdf=slot in pdf_slots, text=text, copy_of=copy_of,
            ))
            doc_id += 1
        _write_batch(rng, batch)
        batches.append(batch)
    return batches


def _write_batch(rng: np.random.Generator, batch: Batch) -> None:
    rows = []
    for b in batch.books:
        ext = "pdf" if b.as_pdf else "txt"
        text_path = os.path.join(batch.path, "text", f"{b.book_id}.{ext}")
        with open(text_path, "wb") as fh:
            fh.write(pdf_bytes(b.text) if b.as_pdf else b.text.encode("utf-8"))
        urls = []
        for i, (sr, n) in enumerate(zip(b.part_rates, b.part_samples), start=1):
            with open(os.path.join(batch.path, "audio", f"{b.book_id}_{i}.wav"), "wb") as fh:
                fh.write(wav_bytes(_speech(rng, n, sr), sr))
            urls.append(f"http://audio.example/{b.book_id}_{i}.mp3")
        secs = int(round(b.duration_s))
        rows.append({
            "id": b.book_id,
            "name": f"sách số {b.doc_id}",
            "narrator": repr([{"id": b.narrator[0], "name": b.narrator[1]}]),
            "duration": f"{secs // 3600:02d}:{secs // 60 % 60:02d}:{secs % 60:02d}",
            "author": AUTHORS[b.doc_id % len(AUTHORS)],
            "text_download_url": f"http://text.example/{b.book_id}.{ext}",
            "audio_download_url": repr(urls),
        })
    with open(os.path.join(batch.path, "metadata.csv"), "w", newline="", encoding="utf-8") as fh:
        w = csv.DictWriter(fh, fieldnames=CSV_COLUMNS)
        w.writeheader()
        for r in rows:
            w.writerow({c: r.get(c, "") for c in CSV_COLUMNS})
    with open(os.path.join(batch.path, "asr_noise.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["book_id", "noise"])
        for b in batch.books:
            w.writerow([b.book_id, b.noise])
    with open(os.path.join(batch.path, "expected.json"), "w") as fh:
        json.dump(batch.expected(), fh, sort_keys=True)
