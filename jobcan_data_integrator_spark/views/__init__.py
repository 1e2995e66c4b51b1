"""The gold view layer — reference ``config/create_views.sql:7-680``
re-expressed as Spark SQL (SURVEY.md §2.4-§2.8).

Every view is defined ONCE against the silver tables and rendered per
dialect (Spark SQL for the engine, DuckDB SQL for the oracle tests), so
the golden tests in tests/test_views.py execute the very same semantics
in both engines (SURVEY.md §5.2).

Deterministic semantics where SQLite was nondeterministic (SURVEY §2.5
A4/A5, §7.2): bare-GROUP-BY first-row becomes explicit ``max()``;
``GROUP_CONCAT`` order is pinned to (approved_date, step_index,
approver_index) instead of relying on subquery order.

Dialect notes:
- the reference's ``strftime('%Y/%m/%d  %H:%M:%S', ts, 'localtime')``
  (double space preserved, create_views.sql:143) renders UTC-stored
  strings in JST;
- ``'' -> NULL`` then CAST (create_views.sql:104-116) maps to
  TRY_CAST(NULLIF(...)) — ANSI-safe on both engines;
- currency strip ``REPLACE('円'/','/' ')`` (create_views.sql:441-443)
  maps to regexp_replace (the 'g' flag is DuckDB-only).

Catalyst inlines the whole view DAG per query, so predicate pushdown and
column pruning reach the silver scans — at 100 TB the CSV views read only
their ~15 columns and only the hard-coded form_id partitions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Dialect:
    name: str

    def fmt_jst(self, c: str) -> str:
        if self.name == "spark":
            return (
                f"date_format(from_utc_timestamp(try_to_timestamp({c}), 'Asia/Tokyo'),"
                " 'yyyy/MM/dd  HH:mm:ss')"
            )
        return f"strftime(TRY_CAST({c} AS TIMESTAMP) + INTERVAL 9 HOUR, '%Y/%m/%d  %H:%M:%S')"

    def str_to_int(self, c: str) -> str:
        return f"TRY_CAST(NULLIF({c}, '') AS BIGINT)"

    def yen_to_int(self, x: str) -> str:
        flag = ", 'g'" if self.name == "duckdb" else ""
        return f"TRY_CAST(NULLIF(regexp_replace({x}, '[円, ]', ''{flag}), '') AS BIGINT)"

    def group_concat(self, expr: str, order: list[str], sep: str = ", ") -> str:
        if self.name == "spark":
            keys = ", ".join(
                f"'o{i}', {k}" for i, k in enumerate(order)
            )
            return (
                f"array_join(transform(array_sort(collect_list("
                f"named_struct({keys}, 'v', {expr}))), x -> x.v), '{sep}')"
            )
        return f"string_agg({expr}, '{sep}' ORDER BY {', '.join(order)})"

    def as_string(self, c: str) -> str:
        t = "STRING" if self.name == "spark" else "VARCHAR"
        return f"CAST({c} AS {t})"


SPARK = Dialect("spark")
DUCKDB = Dialect("duckdb")

_STATUS_DECODE = """
    CASE r.status
        WHEN 'in_progress' THEN '進行中'
        WHEN 'completed' THEN '完了'
        WHEN 'rejected' THEN '却下'
        WHEN 'canceled' THEN '取り消し'
        WHEN 'returned' THEN '差し戻し'
        WHEN 'canceled_after_completion' THEN '完了後取消'
        ELSE r.status
    END"""

#: the 書式3 form-id list (create_views.sql:336).
_F3_IDS = "14789304, 21063509, 39901682, 54142953, 64039825, 66265686, 70659861, 84927058, 87208398, 88302404"


def _view_user_details(d: Dialect) -> str:  # create_views.sql:7-28
    return """
    SELECT u.user_code, u.email, u.last_name, u.first_name, u.is_approver,
           u.user_role, u.memo,
           uba.bank_code, uba.bank_name, uba.bank_name_kana, uba.branch_code,
           uba.branch_name, uba.branch_name_kana, uba.bank_account_type_code,
           uba.bank_account_code, uba.bank_account_name_kana
    FROM users u
    LEFT JOIN user_bank_accounts uba ON u.id = uba.user_id"""


def _view_user_group_position(d: Dialect) -> str:  # create_views.sql:32-42
    return """
    SELECT u.user_code, ug.group_code, up.position_code
    FROM users u
    JOIN user_groups ug ON u.id = ug.user_id
    LEFT JOIN user_positions up
      ON u.id = up.user_id AND ug.group_code IS NOT DISTINCT FROM up.group_code"""


def _view_groups(d: Dialect) -> str:  # create_views.sql:48-55
    return "SELECT group_code, group_name, parent_group_code, description FROM groups"


def _view_positions(d: Dialect) -> str:  # create_views.sql:61-67
    return "SELECT position_code, position_name, description FROM positions"


def _view_forms(d: Dialect) -> str:  # create_views.sql:79-89
    return (
        "SELECT id, category, form_type, settlement_type, name, view_type,"
        " description FROM forms"
    )


def _view_companies(d: Dialect) -> str:  # create_views.sql:98-120
    return f"""
    SELECT c.company_code, c.company_name, c.zip_code, c.address,
           {d.str_to_int('c.bank_code')} AS bank_code,
           c.bank_name,
           {d.str_to_int('c.branch_code')} AS branch_code,
           c.branch_name,
           CASE WHEN c.bank_account_type_code IS NULL OR c.bank_account_type_code = '' THEN NULL
                WHEN c.bank_account_type_code = '1' THEN '普通'
                WHEN c.bank_account_type_code = '2' THEN '当座'
                WHEN c.bank_account_type_code = '9' THEN 'その他'
                ELSE {d.as_string('TRY_CAST(c.bank_account_type_code AS BIGINT)')}
           END AS bank_account_type_code,
           {d.str_to_int('c.bank_account_code')} AS bank_account_code,
           c.bank_account_name_kana, c.invoice_registrated_number
    FROM companies c"""


def _view_request_details(d: Dialect) -> str:  # create_views.sql:126-178
    return f"""
    SELECT r.id, r.title,
           {_STATUS_DECODE} AS status,
           r.form_id, r.form_name, r.form_type, r.settlement_type,
           {d.fmt_jst('r.applied_date')} AS applied_date,
           r.applicant_code, r.applicant_last_name, r.applicant_first_name,
           r.applicant_group_name, r.applicant_group_code,
           r.applicant_position_name, r.proxy_applicant_last_name,
           r.proxy_applicant_first_name, r.group_name, r.group_code,
           r.project_name, r.project_code, r.flow_step_name,
           r.is_content_changed, r.total_amount, r.pay_at,
           r.final_approval_period,
           {d.fmt_jst('r.final_approved_date')} AS final_approved_date,
           exp.amount,
           exp.related_request_title AS expense_related_request_title,
           exp.related_request_id AS expense_related_request_id,
           exp.use_suspense_payment AS expense_use_suspense_payment,
           exp.content_description AS expense_content_description,
           exp.advanced_payment AS expense_advanced_payment,
           exp.suspense_payment_amount AS expense_suspense_payment_amount,
           ec.related_request_id AS ec_related_request_id,
           ec.related_request_title AS ec_related_request_title,
           ec.content_description AS ec_content_description,
           ec.billing_destination AS ec_billing_destination
    FROM requests r
    LEFT JOIN expense exp ON r.id = exp.request_id
    LEFT JOIN ec ON r.id = ec.request_id"""


def _view_approval_process(d: Dialect) -> str:  # create_views.sql:182-199
    return """
    SELECT ap.request_id, ast.step_index, ast.name, ast.condition,
           ast.status AS final_status,
           av.status AS approver_status, av.approver_index, av.approved_date,
           av.approver_name, av.approver_code
    FROM approval_process ap
    LEFT JOIN approval_steps ast ON ast.approval_process_id = ap.approval_process_id
    LEFT JOIN approvers av ON av.approval_step_id = ast.approval_step_id"""


def _view_expense_specifics(d: Dialect) -> str:  # create_views.sql:203-220
    return """
    SELECT e.request_id, es.type, es.col_number,
           TRY_CAST(esr.row_number AS BIGINT) AS `row_number`,
           esr.use_date, esr.group_name, esr.project_name,
           esr.content_description, esr.breakdown, esr.amount
    FROM expense e
    LEFT JOIN expense_specifics es ON e.request_id = es.request_id
    LEFT JOIN expense_specific_rows esr
      ON es.expense_specific_id = esr.expense_specific_id"""


def _view_form_items(d: Dialect) -> str:  # create_views.sql:228-241 (A4 pinned)
    return """
    SELECT r.form_id, max(r.form_name) AS form_name, max(ci.title) AS title,
           ci.item_index
    FROM customized_items ci
    JOIN requests r ON ci.request_id = r.id
    GROUP BY r.form_id, ci.item_index"""


def _view_form_items_by_name(d: Dialect) -> str:  # create_views.sql:243-256
    return """
    SELECT r.form_id, max(r.form_name) AS form_name, ci.title,
           min(ci.item_index) AS item_index
    FROM customized_items ci
    JOIN requests r ON ci.request_id = r.id
    GROUP BY r.form_id, ci.title"""


def _view_request_approval_history(d: Dialect) -> str:  # create_views.sql:260-281
    detail = f"approver_name || '（承認日時：' || {d.fmt_jst('approved_date')} || '）'"
    concat = d.group_concat(detail, ["approved_date", "step_index", "approver_index"])
    return f"""
    SELECT request_id, {concat} AS approver_details
    FROM view_approval_process
    WHERE approver_status = '承認済み'
    GROUP BY request_id"""


def _csv_header(d: Dialect, with_form_id: bool = False) -> str:
    """The shared 申請ID..関連グループ名 column block of every CSV view."""
    form_id = 'max(r.form_id) AS `フォームID`,' if with_form_id else ""
    return f"""
        r.id AS `申請ID`,
        max(r.status) AS `申請ステータス`,
        max(r.final_approved_date) AS `最終承認日`,
        max(rah.approver_details) AS `承認者`,
        {form_id}
        max(r.form_name) AS `フォーム名`,
        max(r.title) AS `タイトル`,
        max(u.email) AS `申請者メールアドレス`,
        max(r.applicant_code) AS `申請者コード`,
        max(r.applicant_last_name) AS `申請者名（姓）`,
        max(r.applicant_first_name) AS `申請者名（名）`,
        max(r.applied_date) AS `申請日時`"""


def _pivot(d: Dialect, idx: int, alias: str, yen: bool = False) -> str:
    base = f"max(CASE WHEN ci.item_index = {idx} THEN ci.content END)"
    if yen:
        base = d.yen_to_int(base)
    return f'{base} AS `{alias}`'


def _view_csv3(d: Dialect) -> str:  # 書式3, create_views.sql:293-338
    return f"""
    SELECT
        {_csv_header(d, with_form_id=True)},
        max(r.group_name) AS `関連グループ名`,
        max(r.project_name) AS `関連プロジェクト名`,
        max(CASE WHEN es.col_number = 0 AND es.row_number = 1 THEN es.breakdown END) AS `経費の内訳`,
        max(CASE WHEN es.col_number = 0 AND es.row_number = 1 THEN es.use_date END) AS `利用日`,
        max(r.total_amount) AS `金額`,
        {_pivot(d, 0, '備考')},
        {_pivot(d, 1, '【申請にあたっての確認事項】')}
    FROM view_request_details r
    LEFT JOIN customized_items ci ON r.id = ci.request_id
    LEFT JOIN users u ON r.applicant_code = u.user_code
    LEFT JOIN view_request_approval_history rah ON r.id = rah.request_id
    LEFT JOIN view_expense_specifics es ON r.id = es.request_id
    WHERE r.form_id IN ({_F3_IDS})
    GROUP BY r.id"""


def _view_csv3_detail(d: Dialect) -> str:  # create_views.sql:340-364
    return f"""
    SELECT r.id AS `申請ID`,
           es.breakdown AS `交通費明細の内訳`,
           es.use_date AS `交通費明細の利用日`,
           es.amount AS `交通費明細の金額`,
           es.content_description AS `交通費明細の目的・備考`,
           es.group_name AS `交通費明細のグループ`,
           es.project_name AS `交通費明細のプロジェクト`
    FROM view_request_details r
    LEFT JOIN view_expense_specifics es ON r.id = es.request_id
    WHERE r.form_id IN ({_F3_IDS})"""


def _view_csv3_3(d: Dialect) -> str:  # create_views.sql:368-374
    return """SELECT * FROM `view_立替精算(書式3)` r WHERE r.`フォームID` = 54142953"""


def _view_csv3_3_detail(d: Dialect) -> str:  # create_views.sql:376-400
    return """
    SELECT r.id AS `申請ID`,
           es.breakdown AS `交通費明細の内訳`,
           es.use_date AS `交通費明細の利用日`,
           es.amount AS `交通費明細の金額`,
           es.content_description AS `交通費明細の目的・備考`,
           es.group_name AS `交通費明細のグループ`,
           es.project_name AS `交通費明細のプロジェクト`
    FROM view_request_details r
    LEFT JOIN view_expense_specifics es ON r.id = es.request_id
    WHERE r.form_id = 54142953"""


def _payment_journal_block(d: Dialect) -> str:
    """Shared 書式4-1/4-2 join tail: journals self-join ×2 + companies +
    payment + approval history (create_views.sql:451-466)."""
    return """
    FROM view_request_details r
    LEFT JOIN customized_items ci ON r.id = ci.request_id
    LEFT JOIN users u ON r.applicant_code = u.user_code
    LEFT JOIN fix_journals fjb ON fjb.view_id = r.id AND fjb.journal_type = 'book'
    LEFT JOIN fix_journals fjp ON fjp.view_id = r.id AND fjp.journal_type = 'pay'
    LEFT JOIN view_companies cp ON cp.company_name = fjp.company_name
    LEFT JOIN payment p ON r.id = p.request_id
    LEFT JOIN view_request_approval_history rah ON r.id = rah.request_id"""


def _view_csv4_1(d: Dialect) -> str:  # 書式4-1, create_views.sql:408-470
    return f"""
    SELECT
        {_csv_header(d)},
        max(r.project_name) AS `関連プロジェクト名`,
        max(r.group_name) AS `関連グループ名`,
        max(p.related_request_title) AS `関連申請タイトル`,
        max(p.related_request_id) AS `関連申請ID`,
        max(fjb.journal_date) AS `計上日`,
        max(r.total_amount) AS `金額`,
        max(p.content_description) AS `内容`,
        max(fjp.journal_date) AS `支払予定日`,
        max(fjp.company_code) AS `支払先コード`,
        max(fjp.company_name) AS `支払先名`,
        max(fjp.invoice_registrated_number) AS `支払先登録番号`,
        max(cp.bank_code) AS `銀行コード`,
        max(cp.bank_name) AS `銀行名`,
        max(cp.branch_code) AS `支店コード`,
        max(cp.branch_name) AS `支店名`,
        {_pivot(d, 0, '源泉徴収税額', yen=True)},
        {_pivot(d, 1, '請求書の添付')},
        {_pivot(d, 2, '請求書の受取方法')},
        {_pivot(d, 3, '支払頻度')},
        {_pivot(d, 4, '備考')},
        {_pivot(d, 5, '【申請にあたっての確認事項】')},
        {_pivot(d, 7, '新しい項目')}
    {_payment_journal_block(d)}
    WHERE r.form_id = 41052205
    GROUP BY r.id"""


def _view_csv4_2(d: Dialect) -> str:  # 書式4-2, create_views.sql:475-533
    return f"""
    SELECT
        {_csv_header(d)},
        max(r.project_name) AS `関連プロジェクト名`,
        max(r.group_name) AS `関連グループ名`,
        max(p.related_request_title) AS `関連申請タイトル`,
        max(p.related_request_id) AS `関連申請ID`,
        max(fjb.journal_date) AS `計上日`,
        max(r.total_amount) AS `金額`,
        max(p.content_description) AS `内容`,
        max(fjp.journal_date) AS `支払予定日`,
        max(fjp.company_code) AS `支払先コード`,
        max(fjp.company_name) AS `支払先名`,
        max(fjp.invoice_registrated_number) AS `支払先登録番号`,
        max(cp.bank_code) AS `銀行コード`,
        max(cp.bank_name) AS `銀行名`,
        max(cp.branch_code) AS `支店コード`,
        max(cp.branch_name) AS `支店名`,
        max(cp.bank_account_type_code) AS `口座種別`,
        max(cp.bank_account_code) AS `口座番号`,
        max(cp.bank_account_name_kana) AS `口座名`,
        {_pivot(d, 0, '備考')},
        {_pivot(d, 1, '【申請にあたっての確認事項】')}
    {_payment_journal_block(d)}
    WHERE r.form_id = 75858728
    GROUP BY r.id"""


def _simple_pivot_view(d: Dialect, form_id: int, pivots: list[tuple[int, str, bool]]) -> str:
    cols = ",\n        ".join(_pivot(d, i, a, yen) for i, a, yen in pivots)
    return f"""
    SELECT
        {_csv_header(d)},
        max(r.project_name) AS `関連プロジェクト名`,
        max(r.group_name) AS `関連グループ名`,
        {cols}
    FROM view_request_details r
    LEFT JOIN customized_items ci ON r.id = ci.request_id
    LEFT JOIN users u ON r.applicant_code = u.user_code
    LEFT JOIN view_request_approval_history rah ON r.id = rah.request_id
    WHERE r.form_id = {form_id}
    GROUP BY r.id"""


def _view_csv4_3(d: Dialect) -> str:  # 書式4-3, create_views.sql:537-584
    return _simple_pivot_view(
        d,
        11171823,
        [
            (0, "関連申請", False), (1, "計上日", False), (2, "金額", True),
            (3, "内容", False), (4, "支払先選択", False), (5, "取引先名（既存）", False),
            (6, "取引先名（新規）", False), (7, "支払日", False), (8, "振込手数料", False),
            (9, "源泉徴収税", False), (10, "源泉徴収税額", True), (11, "請求書の添付", False),
            (12, "請求書の受取方法", False), (13, "支払い頻度", False), (14, "備考", False),
            (15, "【申請にあたっての確認事項】", False),
        ],
    )


def _view_csv4_4(d: Dialect) -> str:  # 書式4-4, create_views.sql:588-634
    return _simple_pivot_view(
        d,
        9782279,
        [
            (0, "関連申請", False), (1, "支払の内訳", False), (2, "計上日", False),
            (3, "金額", True), (4, "内容", False), (5, "支払先選択", False),
            (6, "取引先名（既存）", False), (7, "取引先名（新規）", False),
            (8, "支払日", False), (9, "振込手数料", False), (10, "源泉徴収税", False),
            (11, "源泉徴収税額", True), (12, "請求書の添付", False),
            (13, "請求書の受取方法", False), (14, "支払頻度", False), (15, "備考", False),
        ],
    )


def _view_csv4_5(d: Dialect) -> str:  # 書式4-5, create_views.sql:638-680
    return _simple_pivot_view(
        d,
        29608169,
        [
            (0, "関連申請", False), (1, "カードの種類", False), (2, "支払の内訳", False),
            (3, "計上日", False), (4, "金額", True), (5, "内容", False),
            (6, "支払先名", False), (7, "決済日", False), (8, "領収書等の添付", False),
            (9, "領収書等の受取方法", False), (10, "支払頻度", False), (11, "備考", False),
        ],
    )


#: (view name, builder) in dependency order (create_views.sql top-to-bottom).
VIEWS: list[tuple[str, object]] = [
    ("view_user_details", _view_user_details),
    ("view_user_group_position", _view_user_group_position),
    ("view_groups", _view_groups),
    ("view_positions", _view_positions),
    ("view_forms", _view_forms),
    ("view_companies", _view_companies),
    ("view_request_details", _view_request_details),
    ("view_approval_process", _view_approval_process),
    ("view_expense_specifics", _view_expense_specifics),
    ("view_form_items", _view_form_items),
    ("view_form_items_by_name", _view_form_items_by_name),
    ("view_request_approval_history", _view_request_approval_history),
    ("view_立替精算(書式3)", _view_csv3),
    ("view_立替精算(書式3)_明細", _view_csv3_detail),
    ("view_立替精算・交通費(書式3-3.)", _view_csv3_3),
    ("view_立替精算・交通費(書式3-3.)_明細", _view_csv3_3_detail),
    ("view_支払依頼申請書（書式4-1. 支払・請求書）", _view_csv4_1),
    ("view_支払依頼申請書（書式4-2. 社員振込）", _view_csv4_2),
    ("view_支払依頼申請書（書式4-3. 窓口・コンビニ払い）", _view_csv4_3),
    ("view_支払依頼申請書（書式4-4. 口座振替）", _view_csv4_4),
    ("view_支払依頼申請書（書式4-5. コーポレートカード領収書提出）", _view_csv4_5),
]


def view_sql(name: str, dialect: Dialect) -> str:
    """Render one view's SELECT for the given dialect."""
    fn = dict(VIEWS)[name]
    sql = fn(dialect)
    if dialect.name == "duckdb":
        # identifier quoting: Spark uses backticks, DuckDB double quotes
        sql = sql.replace("`", '"')
    return sql


def export_views(
    spark: SparkSession,
    out_dir: str,
    names: list[str] | None = None,
    fmt: str = "parquet",
) -> dict[str, int]:
    """BI egress (reference S11): materialize gold views to files.

    The reference's consumers read the SQLite file over ODBC
    (README.md:43-47); the Spark-native equivalent is gold parquet (or
    CSV for the 書式 exports, which ARE CSV layouts).  Views must already
    be registered (register_views).  Returns rows written per view,
    counted by the write itself (an ``Observation``), so each view is
    computed once.
    """
    counts: dict[str, int] = {}
    for name in names or [n for n, _ in VIEWS]:
        written = Observation()
        df = spark.table(f"`{name}`").observe(written, F.count(F.lit(1)).alias("n"))
        writer = df.coalesce(1).write.mode("overwrite")
        if fmt == "csv":
            writer.option("header", True).csv(f"{out_dir}/{name}")
        else:
            writer.parquet(f"{out_dir}/{name}")
        counts[name] = written.get["n"]
    return counts


def register_views(spark: SparkSession, tables: dict[str, DataFrame]) -> None:
    """Register silver tables + the full view DAG as temp views
    (the reference installs views once at init, gateway.py:103-130)."""
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    for name, _ in VIEWS:
        spark.sql(f"CREATE OR REPLACE TEMP VIEW `{name}` AS {view_sql(name, SPARK)}")
