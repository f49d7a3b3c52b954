#!/usr/bin/env python3
"""Seeded raw-JSON fixtures for the benchmark's pipeline workloads.

Writes the payload shapes of tools/pipeline_scale_gen.py (FIXTURES.md),
laid out the way the five reference pipelines glob them:

  RAW/jhub/year=2024/month=01/day=01/hour=HH/logs.json
  RAW/zoom/air-meetings-logs-DATE/meetings_logs_DATE[_pageN].json
  RAW/zoom/air-meetings-data/dN/participants_N.json
  RAW/vk/data2024-01-01/{gsom_ma,members_full_group_gsom_ma,wall_owner_id_*}.json
  RAW/monkey/{details/survey_details,responses/responses_N}.json

The seed varies ids, values, null shares and array lengths; the number
of raw records (log lines, meetings, members, surveys, responses) is
fixed by the scale alone. Because array lengths vary, the generator
counts what each staged table must hold and writes those counts to
`manifest.json` next to RAW, together with the raw byte total. The
benchmark checks staged row counts against that manifest.

`hourly` writes only the jhub shape, one flat file per hour, for the
checkpointed file-stream workload.

Usage:
  fixtures.py pipeline OUT_DIR --scale S --seed N
  fixtures.py hourly OUT_DIR --hours H --per-hour N --seed N
"""
import argparse
import json
import os
import random


class Writer:
    def __init__(self, root):
        self.root = root
        self.bytes = 0
        self.files = 0

    def write(self, relpath, lines):
        p = os.path.join(self.root, relpath)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        data = "\n".join(lines).encode()
        with open(p, "wb") as f:
            f.write(data)
        self.bytes += len(data)
        self.files += 1


def q(v):
    """JSON literal for a string that may be None."""
    return "null" if v is None else json.dumps(v)


def jhub_line(rng, h, i, null_share):
    code = rng.choice((200, 200, 200, 302, 404, 500))
    sec = rng.randrange(3600)
    ms = rng.randrange(1000)
    ts = f"2024-01-01T{h:02d}:{sec // 60:02d}:{sec % 60:02d}.{ms:03d}{rng.randrange(10**6):06d}Z"
    logts = f"2024-01-01 {h:02d}:{sec // 60:02d}:{sec % 60:02d}.{ms:03d}"
    if rng.random() < 1 / 7:  # the no-brackets fallback line
        log = f"plain line {rng.randrange(10**6)} with no brackets"
    else:
        log = f"[I {logts} JupyterHub app:{code}] GET /hub/api/users/u{rng.randrange(10**5)}"
    pod = None if rng.random() < null_share else f"hub-{rng.randrange(8)}"
    return ('{"log": %s, "time": "%s", "kubernetes": {"container_name": "hub", '
            '"host": "node%d", "pod_name": %s, "annotations": {"noisy": "%d"}, '
            '"labels": {"app": "jhub"}}}'
            % (json.dumps(log), ts, rng.randrange(16), q(pod), i))


def jhub(w, rng, hours, per_hour, null_share, layout):
    for h in range(hours):
        lines = [jhub_line(rng, h, i, null_share) for i in range(per_hour)]
        if layout == "hourly":
            w.write(f"logs_{h:02d}.json", lines)
        else:
            w.write(f"jhub/year=2024/month=01/day=01/hour={h:02d}/logs.json", lines)
    return hours * per_hour


def zoom(w, rng, days, per_day, null_share):
    page = 2500
    n_rec = n_part = 0
    base = rng.randrange(10**6)
    mid = 0
    for day in range(1, days + 1):
        date = f"2024-01-{day:02d}"
        ms, plines = [], []
        for i in range(per_day):
            m = base + mid + i
            uuid = f"uuid-{m}"
            k = rng.randint(1, 3)
            n_rec += k
            recs = ",".join(
                '{"download_url": "https://dl/%s/%d", "file_extension": "MP4", '
                '"file_size": %d, "file_type": "MP4", "id": "rec-%s-%d", '
                '"meeting_id": "%s", "play_url": "https://play/%s/%d", '
                '"recording_end": "%sT11:%02d:%02dZ", '
                '"recording_start": "%sT10:%02d:%02dZ", '
                '"recording_type": "shared_screen", "status": "completed"}'
                % (uuid, r, rng.randrange(10**4, 10**8), uuid, r, uuid, uuid, r,
                   date, rng.randrange(60), rng.randrange(60),
                   date, rng.randrange(60), rng.randrange(60))
                for r in range(k))
            topic = None if rng.random() < null_share else f"Topic {rng.randrange(10**4)}"
            ms.append(
                '{"account_id": "acc%d", "duration": %d, "host_email": "h%d@x.io", '
                '"host_id": "host%d", "id": %d, "recording_count": %d, '
                '"share_url": "https://share/%d", '
                '"start_time": "%sT%02d:%02d:00Z", "timezone": "UTC", '
                '"topic": %s, "total_size": %d, "type": 2, '
                '"uuid": "%s", "recording_files": [%s]}'
                % (rng.randrange(5), rng.randrange(5, 240), rng.randrange(500),
                   rng.randrange(500), m, k, m, date, rng.randrange(24),
                   rng.randrange(60), q(topic), rng.randrange(10**4, 10**9),
                   uuid, recs))
            parts = []
            for _ in range(rng.randint(1, 4)):
                pid = rng.randrange(10**7)
                ips = ",".join('"10.%d.%d.%d"' % (rng.randrange(256), rng.randrange(256), rng.randrange(256))
                               for _ in range(rng.randint(1, 3)))
                loc = None if rng.random() < null_share else rng.choice(("Paris", "Berlin", "Rome"))
                parts.append(
                    '{"camera": "cam%d", "connection_type": "UDP", '
                    '"customer_key": "ck", "data_center": "EU", "device": "Mac", '
                    '"domain": "d", "email": "p%d@x.io", "from_sip_uri": "", '
                    '"full_data_center": "EU-FR", "harddisk_id": "hd", '
                    '"id": "pid%d", "internal_ip_addresses": [%s], '
                    '"ip_address": "1.2.3.%d", '
                    '"join_time": "%sT09:05:%02dZ", "leave_reason": "left", '
                    '"leave_time": "%sT09:55:%02dZ", "location": %s, '
                    '"mac_addr": "aa:bb", "microphone": "mic", '
                    '"network_type": "Wifi", "participant_user_id": "pu%d", '
                    '"pc_name": "pc", "recording": %s, "registrant_id": "r%d", '
                    '"role": "host", "share_application": false, '
                    '"share_desktop": %s, "share_whiteboard": false, '
                    '"sip_uri": "", "speaker": "spk", "status": "in_meeting", '
                    '"user_id": "u%d", "user_name": "User %d", "version": "5.0"}'
                    % (pid % 7, pid, pid, ips, pid % 250, date, rng.randrange(60),
                       date, rng.randrange(60), q(loc), pid,
                       rng.choice(("true", "false")), pid,
                       rng.choice(("true", "false")), pid, pid))
            n_part += len(parts)
            plines.append('{"uuid": "%s", "participants_data": {"participants": [%s]}}'
                          % (uuid, ",".join(parts)))
        for p in range(0, len(ms), page):
            suffix = "" if p == 0 else f"_page{p // page}"
            w.write(f"zoom/air-meetings-logs-{date}/meetings_logs_{date}{suffix}.json",
                    ['{"from": "%s", "to": "%s", "total_records": %d, "meetings": [%s]}'
                     % (date, date, len(ms), ",".join(ms[p:p + page]))])
        w.write(f"zoom/air-meetings-data/d{day}/participants_{day}.json", plines)
        mid += per_day
    return {"meetings": mid, "records": n_rec, "participants": n_part,
            "hst_meetings": mid, "hst_records": n_rec, "hst_participants": n_part}


def vk(w, rng, n_members, wall_files, items_per_file, null_share):
    n_contacts, n_links = rng.randint(1, 3), rng.randint(1, 3)
    gid = rng.randrange(100, 10**6)
    contacts = ",".join('{"desc": "c%d", "email": "c%d@x.io", "phone": "+7%d"}'
                        % (i, i, rng.randrange(10**6)) for i in range(n_contacts))
    links = ",".join('{"id": %d, "name": "l%d", "desc": "d%d", "url": "https://x/%d"}'
                     % (rng.randrange(10**4), i, i, i) for i in range(n_links))
    w.write("vk/data2024-01-01/gsom_ma.json", [
        '{"id": %d, "type": "page", "name": "GSOM", "screen_name": "gsom_ma", '
        '"activity": "education", "description": "desc", "is_closed": 0, '
        '"members_count": %d, "status": "st", "verified": 1, '
        '"site": "gsom.spbu.ru", "wiki_page": "w", '
        '"city": {"id": 2, "title": "SPB"}, "country": {"id": 1, "title": "RU"}, '
        '"contacts": [%s], "links": [%s]}' % (gid, n_members, contacts, links)])
    n_car = n_sch = n_uni = 0
    lines = []
    base = rng.randrange(10**6)
    for i in range(n_members):
        mid = base + i
        kc, ks, ku = rng.randint(1, 2), rng.randint(1, 2), rng.randint(1, 2)
        n_car, n_sch, n_uni = n_car + kc, n_sch + ks, n_uni + ku
        career = ",".join(
            '{"city_id": %d, "country_id": 1, "company": "Co%d", "group_id": %d, '
            '"position": "p%d", "from": %d, "until": %d}'
            % (rng.randrange(50), rng.randrange(100), rng.randrange(100),
               rng.randrange(9), 2000 + rng.randrange(20), 2020 + rng.randrange(5))
            for _ in range(kc))
        schools = ",".join(
            '{"city": %d, "class": "a", "country": 1, "id": "sch%d", '
            '"name": "School %d", "speciality": "math", "type": %d, '
            '"type_str": "gymnasium", "year_from": %d, '
            '"year_graduated": %d, "year_to": %d}'
            % (rng.randrange(50), rng.randrange(10**4), rng.randrange(100),
               rng.randrange(3), 2000 + rng.randrange(10), 2010 + rng.randrange(10),
               2010 + rng.randrange(10)) for _ in range(ks))
        unis = ",".join(
            '{"chair": %d, "chair_name": "IS", "city": 2, "country": 1, '
            '"education_form": 1, "education_status": "Student", '
            '"faculty": %d, "faculty_name": "Mgmt", "graduation": %d, '
            '"id": %d, "name": "U%d"}'
            % (rng.randrange(20), rng.randrange(30), 2015 + rng.randrange(12),
               rng.randrange(100), rng.randrange(100)) for _ in range(ku))
        town = None if rng.random() < null_share else rng.choice(("SPB", "MSK", "KZN"))
        lines.append(
            '{"id": %d, "first_name": "F%d", "last_name": "L%d", '
            '"maiden_name": "", "screen_name": "sn%d", "nickname": "", '
            '"sex": %d, "city": {"id": %d, "title": "C%d"}, '
            '"home_town": %s, "country": {"id": 1, "title": "RU"}, '
            '"about": "", "activities": "", "books": "", "can_post": %d, '
            '"deactivated": "", "domain": "d%d", "followers_count": %d, '
            '"friend_status": 0, "games": "", "interests": "", '
            '"is_closed": %s, "is_friend": 0, "personal": "", '
            '"site": "", "skype": "", "livejournal": "", "twitter": "", '
            '"has_mobile": 1, "mobile_phone": "", "home_phone": "", '
            '"status": "", "relation": %d, "relation_partner_id": 0, '
            '"relation_partner_first_name": "", '
            '"relation_partner_last_name": "", "education_form": 1, '
            '"education_status": "Student", "faculty": 11, '
            '"faculty_name": "Mgmt", "graduation": %d, "university": 22, '
            '"university_name": "SPbU", "occupation": {"id": %d, '
            '"name": "SPbU", "type": "university"}, "movies": "", '
            '"music": "", "trending": 0, "tv": "", "verified": 0, '
            '"wall_default": 0, "last_seen": {"platform": %d, "time": %d}, '
            '"career": [%s], "schools": [%s], "universities": [%s]}'
            % (mid, mid, mid, mid, rng.randint(1, 2), rng.randrange(50),
               rng.randrange(50), q(town), rng.randint(0, 1), mid,
               rng.randrange(10**4), rng.choice(("true", "false")),
               rng.randrange(8), 2015 + rng.randrange(12), rng.randrange(100),
               rng.randint(1, 7), 1700000000 + rng.randrange(10**7),
               career, schools, unis))
    w.write("vk/data2024-01-01/members_full_group_gsom_ma.json", lines)
    n_hist = 0
    for f in range(wall_files):
        items = []
        for i in range(items_per_file):
            iid = rng.randrange(10**9)
            kh = rng.randint(1, 2)
            n_hist += kh
            hist = ",".join(
                '{"id": %d, "from_id": -200, "owner_id": -200, "date": %d, '
                '"post_type": "post", "text": "original %d", "post_source": '
                '{"platform": "android", "type": "api"}}'
                % (rng.randrange(10**9), 1690000000 + rng.randrange(10**7),
                   rng.randrange(10**6)) for _ in range(kh))
            text = None if rng.random() < null_share else f"wall post {rng.randrange(10**6)}"
            items.append(
                '{"owner_id": -100, "from_id": -100, "id": %d, "date": %d, '
                '"edited": %d, "post_type": "post", "text": %s, '
                '"comments": {"count": %d}, "donut": {"is_donut": false}, '
                '"likes": {"count": %d, "user_likes": 0}, '
                '"post_source": {"type": "vk"}, "reposts": {"count": %d, '
                '"user_reposted": 0}, "views": {"count": %d}, '
                '"copy_history": [%s]}'
                % (iid, 1700000100 + rng.randrange(10**6), 1700000200 + rng.randrange(10**6),
                   q(text), rng.randrange(50), rng.randrange(500), rng.randrange(20),
                   rng.randrange(5000), hist))
        for off in range(0, len(items), 2000):
            suffix = "" if off == 0 else f"_offset{off}"
            w.write(f"vk/data2024-01-01/wall_owner_id_{f}{suffix}.json",
                    ['{"count": %d, "items": [%s]}'
                     % (len(items), ",".join(items[off:off + 2000]))])
    return {"groups": 1, "groups_contacts": n_contacts, "groups_links": n_links,
            "members": n_members, "members_careers": n_car,
            "members_schools": n_sch, "members_universities": n_uni,
            "wall_items": wall_files * items_per_file, "wall_history": n_hist}


def monkey(w, rng, n_surveys, resp_files, resp_per_file, null_share):
    n_q = n_c = 0
    slines, qids = [], {}
    for s in range(1, n_surveys + 1):
        qs = []
        for qn in range(rng.randint(1, 3)):
            qid = s * 10 + qn
            kc = rng.randint(2, 4)
            n_q, n_c = n_q + 1, n_c + kc
            qids.setdefault(s, []).append((qid, kc))
            choices = ",".join(
                '{"id": %d, "is_na": false, "position": %d, "quiz_options": '
                '{"score": "%d"}, "text": "Choice %d", "visible": true, '
                '"weight": %d}' % (qid * 10 + c, c + 1, rng.randrange(10),
                                   qid * 10 + c, rng.randrange(11))
                for c in range(kc))
            qs.append('{"id": %d, "position": %d, "headings": [{"heading": '
                      '"Question %d?"}], "answers": {"choices": [%s]}}'
                      % (qid, qn + 1, qid, choices))
        slines.append(
            '{"id": %d, "title": "Survey %d", "language": "en", '
            '"folder_id": %d, "date_created": "2021-12-%02dT10:40:00", '
            '"date_modified": "2021-12-%02dT11:00:00", "page_count": 1, '
            '"question_count": %d, "response_count": %d, "pages": [{"id": %d, '
            '"position": 1, "question_count": %d, "title": "P1", '
            '"questions": [%s]}]}'
            % (s, s, rng.randrange(7), rng.randint(1, 28), rng.randint(1, 28),
               len(qs), rng.randrange(100), s * 100, len(qs), ",".join(qs)))
    w.write("monkey/details/survey_details.json", slines)
    rid = rng.randrange(10**6)
    n_ans = 0
    for f in range(resp_files):
        rlines = []
        for _ in range(resp_per_file):
            rid += 1
            sid = rng.randint(1, n_surveys)
            qid, kc = rng.choice(qids[sid])
            ka = rng.randint(1, 2)
            n_ans += ka
            answers = ",".join(
                '{"choice_id": %d, "row_id": 0, "text": "Choice %d", '
                '"quiz_options": {"weight": %d}}'
                % (qid * 10 + c, qid * 10 + c, rng.randrange(11))
                for c in rng.sample(range(kc), ka))
            email = None if rng.random() < null_share else f"r{rid}@x.io"
            rlines.append(
                '{"data": [{"id": %d, "survey_id": %d, "date_created": '
                '"2022-01-%02dT09:00:00", "date_modified": '
                '"2022-01-%02dT09:10:00", "email_address": %s, '
                '"ip_address": "9.9.%d.%d", "first_name": "FN%d", '
                '"last_name": "LN%d", "recipient_id": %d, '
                '"response_status": "completed", "total_time": %d, '
                '"pages": [{"id": %d, "questions": [{"id": %d, "answers": [%s]}]}]}]}'
                % (rid, sid, rng.randint(1, 28), rng.randint(1, 28), q(email),
                   rng.randrange(256), rng.randrange(256), rid, rid,
                   rng.randrange(10**6), rng.randrange(600), sid * 100, qid,
                   answers))
        w.write(f"monkey/responses/responses_{f}.json", rlines)
    return {"hst_surveys": n_surveys, "hst_surveys_questions": n_q,
            "hst_surveys_choices": n_c,
            "hst_surveys_responses": resp_files * resp_per_file,
            "hst_surveys_answers": n_ans}


def pipeline(out, scale, seed):
    """Scale 1 matches tools/pipeline_scale_gen.py's record counts."""
    def n(base):
        return max(1, int(base * scale))
    rng = random.Random(seed)
    null_share = rng.uniform(0.01, 0.08)
    w = Writer(os.path.join(out, "raw"))
    tables = {"jhub/jhublogs": jhub(w, rng, 24, n(20000), null_share, "pipeline")}
    for family, counts in (
            ("zoom", zoom(w, rng, 20, n(2500), null_share)),
            ("vk", vk(w, rng, n(100000), 10, n(2000), null_share)),
            ("monkey", monkey(w, rng, n(2000), 50, n(2000), null_share))):
        for t, c in counts.items():
            # zoom's daily and history tables stage under separate roots
            root = "zoom_hst" if t.startswith("hst_") and family == "zoom" else family
            tables[f"{root}/{t}"] = c
    return {"tables": tables, "raw_bytes": w.bytes, "raw_files": w.files,
            "null_share": null_share}


def hourly(out, hours, per_hour, seed):
    rng = random.Random(seed)
    null_share = rng.uniform(0.01, 0.08)
    w = Writer(os.path.join(out, "raw"))
    rows = jhub(w, rng, hours, per_hour, null_share, "hourly")
    return {"tables": {"jhublogs": rows}, "rows_per_hour": per_hour,
            "raw_bytes": w.bytes, "raw_files": w.files, "null_share": null_share}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=("pipeline", "hourly"))
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--hours", type=int, default=24)
    ap.add_argument("--per-hour", type=int, default=2000)
    a = ap.parse_args()
    manifest = (pipeline(a.out, a.scale, a.seed) if a.kind == "pipeline"
                else hourly(a.out, a.hours, a.per_hour, a.seed))
    manifest.update(kind=a.kind, seed=a.seed)
    with open(os.path.join(a.out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
