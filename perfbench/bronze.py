"""Seeded bronze crawl batches for the medallion_ingest workload.

Each batch is one multi-line JSON file named like the reference crawler's
output (crawl_YYYYMMDD_HHMMSS.json): fixed listing keys plus dynamic
Vietnamese parameter keys, prices in "tỷ" / "triệu" / raw digits, areas
with comma decimals, missing and garbage values, and listings re-crawled
from earlier batches (same list_id, same content).

The generator also computes, with the reference cleaning semantics, what
the silver and gold layers must hold: the silver row count per crawl date
and the gold price_per_m2 of a sample of listings.
"""
import datetime as dt
import json
import os
import random
import re

STREETS = ["Lê Lợi", "Nguyễn Huệ", "Trần Hưng Đạo", "Hai Bà Trưng",
           "Lý Thường Kiệt", "Điện Biên Phủ", "Võ Văn Tần", "Cách Mạng Tháng 8"]
CITIES = [("Quận {d}, TP. Hồ Chí Minh", 0.5), ("Quận Hoàn Kiếm {d}, Hà Nội", 0.3),
          ("Quận Hải Châu {d}, Đà Nẵng", 0.2)]
DIRECTIONS = ["Đông", "Tây", "Nam", "Bắc", "Đông Nam", "Tây Bắc"]
ACCESS = ["Hẻm xe hơi", "Mặt tiền", "Hẻm xe máy", "Nở hậu"]
LEGAL = ["Đã có sổ", "Đang chờ sổ", "Giấy tờ khác"]
FURNITURE = ["Nội thất đầy đủ", "Nội thất cơ bản", "Bàn giao thô"]
EXTRA_KEYS = ["Loại hình nhà ở", "Chiều dài", "Số tầng hầm", "Tình trạng pháp lý khác"]
SILVER_STRING_KEYS = ["Đặc điểm nhà/đất", "Hướng cửa chính", "Giấy tờ pháp lý",
                      "Tình trạng nội thất"]


# ---- reference cleaning semantics (FIXTURES.md §1.4) -------------------------
def _blank(s):
    return s is None or s.strip() == ""


def parse_area(s):
    if _blank(s):
        return None
    m = re.search(r"[0-9,.]+", s)
    if not m:
        return None
    try:
        return float(m.group(0).replace(",", ""))
    except ValueError:
        return None


_NUM = re.compile(r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$")


def parse_number(s):
    if _blank(s) or not _NUM.match(s.strip()):
        return None
    v = int(float(s.strip()))
    return v if -2**31 <= v < 2**31 else None


def normalize_price(s):
    if _blank(s):
        return None
    s = s.lower()

    def first():
        m = re.search(r"[0-9.]+", s)
        try:
            return float(m.group(0)) if m else None
        except ValueError:
            return None
    if "tỷ" in s:
        return first()
    if "triệu" in s:
        v = first()
        return None if v is None else v / 1000
    digits = re.sub(r"[^0-9]", "", s)
    return float(digits) / 1e9 if digits else None


def silver_row(rec):
    """The silver tuple Pipeline.bronzeToSilver makes of one record, or
    None when the price or area does not parse (the row is dropped)."""
    g = rec.get
    row = (g("address"), parse_area(g("Diện tích đất")), parse_area(g("Chiều ngang")),
           parse_number(g("Tổng số tầng")), parse_number(g("Số phòng ngủ")),
           parse_number(g("Số phòng vệ sinh")), normalize_price(g("price")),
           *[g(k) for k in SILVER_STRING_KEYS])
    return None if row[1] is None or row[6] is None else row


# ---- generation --------------------------------------------------------------
def _listing(rng, list_id):
    fmt = rng.random()
    if fmt < 0.45:
        price = f"{rng.randint(1, 40)}.{rng.randint(0, 9)} tỷ"
    elif fmt < 0.55:
        price = f"{rng.randint(1, 40)},{rng.randint(1, 9)} tỷ"  # comma decimal
    elif fmt < 0.8:
        price = f"{rng.randint(300, 990)} triệu"
    elif fmt < 0.97:
        price = str(rng.randint(5, 900) * 10_000_000)
    else:
        price = rng.choice(["Thỏa thuận", ""])  # no price: dropped
    area_kind = rng.random()
    if area_kind < 0.7:
        area = f"{rng.randint(20, 400)} m²"
    elif area_kind < 0.85:
        area = f"{rng.randint(20, 400)},{rng.randint(1, 9)} m²"
    elif area_kind < 0.95:
        area = f"{rng.randint(20, 400)}.{rng.randint(1, 9)}"
    else:
        area = None  # missing or garbage: dropped
    city, _ = rng.choices(CITIES, weights=[w for _, w in CITIES])[0]
    rec = {
        "list_id": str(list_id),
        "title": f"Bán nhà {rng.choice(ACCESS).lower()} {rng.choice(STREETS)}",
        "price": price,
        "address": f"Số {list_id} {rng.choice(STREETS)}, " + city.format(d=rng.randint(1, 12)),
        "images": [f"https://img.example/{list_id}/{i}.jpg" for i in range(rng.randint(0, 4))],
    }
    params = {
        "Diện tích đất": area if area is not None else rng.choice([None, "abc", "  "]),
        "Chiều ngang": f"{rng.randint(3, 12)} m",
        "Đặc điểm nhà/đất": rng.choice(ACCESS),
        "Hướng cửa chính": rng.choice(DIRECTIONS),
        "Tổng số tầng": rng.choice([str(rng.randint(1, 6)), f"{rng.randint(1, 6)}.5"]),
        "Số phòng ngủ": str(rng.randint(1, 8)),
        "Số phòng vệ sinh": str(rng.randint(1, 6)),
        "Giấy tờ pháp lý": rng.choice(LEGAL),
        "Tình trạng nội thất": rng.choice(FURNITURE),
    }
    for k, v in params.items():
        if v is not None and rng.random() > 0.06:  # dynamic width: keys go missing
            rec[k] = v
    for k in EXTRA_KEYS:
        if rng.random() < 0.1:
            rec[k] = str(rng.randint(1, 9))
    return rec


def generate(out_dir, seed, batches, rows_per_batch, sample_size=40):
    """Write `batches` bronze files under out_dir; return the ground truth:
    {"files": [...], "silver_rows": {date: n}, "gold_price": {address: v},
    "input_bytes": n}."""
    rng = random.Random(f"bronze-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    day0 = dt.date(2024, 3, 1)
    seen, files, silver_rows, all_silver = [], [], {}, []
    next_id = 10_000_000 + rng.randint(0, 10_000) * 1000
    for b in range(batches):
        recs, new = [], []
        for _ in range(rows_per_batch):
            if seen and rng.random() < 0.1:
                recs.append(rng.choice(seen))  # re-crawl: list_id duplicate
            else:
                new.append(_listing(rng, next_id))
                next_id += 1
                recs.append(new[-1])
        seen.extend(new)
        day = day0 + dt.timedelta(days=b)
        name = f"crawl_{day:%Y%m%d}_{rng.randint(0, 23):02d}{rng.randint(0, 59):02d}00.json"
        path = os.path.join(out_dir, name)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(recs, f, ensure_ascii=False, indent=1)
        files.append(path)
        rows = {r for r in map(silver_row, recs) if r is not None}
        silver_rows[f"{day:%Y-%m-%d}"] = len(rows)
        all_silver.extend(rows)
    priced = sorted({r for r in all_silver if r[1] != 0}, key=lambda r: r[0])
    sample = rng.sample(priced, min(sample_size, len(priced)))
    gold = {}
    for r in sample:
        gold.setdefault(r[0], set()).add(r[6] / r[1])
    return {"files": files, "silver_rows": silver_rows,
            "gold_price": {a: sorted(v) for a, v in gold.items()},
            "gold_count": {a: sum(1 for r in all_silver if r[0] == a) for a in gold},
            "input_bytes": sum(os.path.getsize(p) for p in files)}
