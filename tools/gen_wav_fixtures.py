#!/usr/bin/env python3
"""Seeded WAV and AIFF fixtures for the audio decoders (AudioFixturesSpec).

Writes src/test/resources/wav_fixtures/:

  pcm16_mono.wav    16 kHz mono 16-bit PCM (the mel and resample surface)
  pcm16_stereo.wav  16 kHz stereo 16-bit PCM (the downmix surface)
  pcm8_mono.wav     8 kHz mono 8-bit PCM (unsigned samples)
  ulaw_mono.wav     8 kHz mono G.711 mu-law (format tag 7)
  alaw_mono.wav     8 kHz mono G.711 A-law (format tag 6)
  pcm16_mono.aiff   16 kHz mono 16-bit AIFF (big-endian samples)

Each file is a few KB: a sine plus seeded noise. PCM files go through the
stdlib `wave` module; the companded WAVs and the AIFF file are written
with `struct`, the G.711 bytes by the ITU-T segment encoders below.

    python3 tools/gen_wav_fixtures.py
"""
import math
import os
import random
import struct
import wave

OUT = os.path.join(os.path.dirname(__file__), "..", "src", "test",
                   "resources", "wav_fixtures")
SEED = 20261019


def signal(rng, n, rate, amp, hz):
    """n samples of a sine at `hz` plus uniform noise, within +-amp."""
    return [max(-amp, min(amp, int(round(
        0.8 * amp * math.sin(2 * math.pi * hz * k / rate)
        + rng.uniform(-0.2, 0.2) * amp)))) for k in range(n)]


def write_pcm(name, rate, width, channels):
    rng = random.Random(f"{SEED}/{name}")
    n = 2000
    amp = 30000 if width == 2 else 120
    chans = [signal(rng, n, rate, amp, 440 * (c + 1)) for c in range(channels)]
    frames = bytearray()
    for k in range(n):
        for c in range(channels):
            s = chans[c][k]
            frames += struct.pack("<h", s) if width == 2 else bytes([s + 128])
    with wave.open(os.path.join(OUT, name), "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        w.writeframes(bytes(frames))


def ulaw(s):
    """ITU-T G.711 mu-law encode of a 16-bit linear sample (14-bit, bias 0x21)."""
    v = s >> 2
    mask = 0x7F if v < 0 else 0xFF
    v = min(abs(v), 8159) + 0x21
    seg = 0
    while seg < 8 and v > (0x40 << seg) - 1:
        seg += 1
    if seg >= 8:
        return 0x7F ^ mask
    return ((seg << 4) | ((v >> (seg + 1)) & 0x0F)) ^ mask


def alaw(s):
    """ITU-T G.711 A-law encode of a 16-bit linear sample (13-bit, 0x55)."""
    v = s >> 3
    mask = 0xD5 if v >= 0 else 0x55
    if v < 0:
        v = -v - 1
    seg = 0
    while seg < 8 and v > (0x20 << seg) - 1:
        seg += 1
    if seg >= 8:
        return 0x7F ^ mask
    mant = (v >> 1) & 0x0F if seg < 2 else (v >> seg) & 0x0F
    return ((seg << 4) | mant) ^ mask


def write_g711(name, tag, encode):
    rng = random.Random(f"{SEED}/{name}")
    rate, n = 8000, 2000
    data = bytes(encode(s) for s in signal(rng, n, rate, 30000, 300))
    # non-PCM fmt chunk: 18 bytes (cbSize 0), followed by a fact chunk
    fmt = struct.pack("<HHIIHHH", tag, 1, rate, rate, 1, 8, 0)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"fact" + struct.pack("<II", 4, n)
            + b"data" + struct.pack("<I", len(data)) + data)
    with open(os.path.join(OUT, name), "wb") as f:
        f.write(b"RIFF" + struct.pack("<I", len(body)) + body)


def extended(hz):
    """An integer rate as an 80-bit IEEE 754 extended float, big-endian."""
    exp = hz.bit_length() - 1
    return struct.pack(">HQ", 16383 + exp, hz << (63 - exp))


def write_aiff(name):
    rng = random.Random(f"{SEED}/{name}")
    rate, n = 16000, 2000
    samples = signal(rng, n, rate, 30000, 523)
    comm = struct.pack(">hIh", 1, n, 16) + extended(rate)
    ssnd = struct.pack(">II", 0, 0) + b"".join(struct.pack(">h", s) for s in samples)
    body = (b"AIFF" + b"COMM" + struct.pack(">I", len(comm)) + comm
            + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd)
    with open(os.path.join(OUT, name), "wb") as f:
        f.write(b"FORM" + struct.pack(">I", len(body)) + body)


def main():
    os.makedirs(OUT, exist_ok=True)
    write_pcm("pcm16_mono.wav", 16000, 2, 1)
    write_pcm("pcm16_stereo.wav", 16000, 2, 2)
    write_pcm("pcm8_mono.wav", 8000, 1, 1)
    write_g711("ulaw_mono.wav", 7, ulaw)
    write_g711("alaw_mono.wav", 6, alaw)
    write_aiff("pcm16_mono.aiff")


if __name__ == "__main__":
    main()
