package graft.model

/*
 * Data model for the change-data-capture (CDC) domain.
 *
 * The reference system (dbestdan/cdc-extractor) extracts rows from a
 * PostgreSQL audit change-log table `audit.logged_actions` whose schema
 * is implicit in the code: exactly 17 columns are consumed (reference
 * `WorkerRunnable.java:206`), column 9 is a bigint transaction id
 * (`WorkerRunnable.java:130`), `event_id` is the monotone offset
 * (`CoordinatorRunnable.java:35`) and `table_name` is the stream
 * selector (`WorkerRunnable.java:94`). Here that envelope is the
 * 17-column `DataFrame` of `graft.sources.AuditLogGenerator.auditEvents`;
 * this file holds the stream selectors over it and over its `events`
 * stand-in.
 */

/**
 * Named table groups selectable at run time, mirroring the reference's
 * `-Dtables=` knob (reference `Config.java:8-27`). The reference's group
 * `"all"` has a missing-comma bug that silently fuses
 * `'bmsql_order_line'` and `'bmsql_stock'` into one bogus literal
 * (`Config.java:16-17`); here `All` is the true union — documented fix,
 * see SURVEY.md §3.4.
 */
object TableGroups {
  val First: Seq[String] = Seq(
    "bmsql_customer", "bmsql_warehouse", "bmsql_district", "bmsql_history",
    "bmsql_item", "bmsql_new_order", "bmsql_oorder")
  val Second: Seq[String] = Seq("bmsql_order_line")
  val Third: Seq[String] = Seq("bmsql_stock")
  val All: Seq[String] = First ++ Second ++ Third

  def resolve(name: String): Seq[String] = name.toLowerCase match {
    case "all"    => All
    case "first"  => First
    case "second" => Second
    case "third"  => Third
    case other => throw new IllegalArgumentException(
      s"unknown table group '$other' (expected all|first|second|third)")
  }
}

/**
 * The driver test data has no PostgreSQL; the `events` table
 * (`event_id, ts, user_id, event_type, value, props`) is the change-log
 * stand-in (monotone `event_id` offset + event-time `ts`, see
 * FIXTURES.md §B). `event_type` plays the role of `table_name` and
 * `user_id` the role of `transaction_id`. These groups mirror
 * [[TableGroups]] over the stand-in domain.
 */
object EventGroups {
  val First: Seq[String] = Seq("click", "signup", "view")
  val Second: Seq[String] = Seq("purchase")
  val Third: Seq[String] = Seq("error")
  val All: Seq[String] = First ++ Second ++ Third
}
