package graft.ingest

/**
 * Tables with unstable / multi-field PKs that must be dropped and fully
 * recreated every import instead of row-merged.
 *
 * Verbatim list from `/root/reference/src/importer.rs:15-49`
 * (`VOLATILE_TABLES`). Config may force ALL tables volatile
 * (`settings.rs:102-105`, `config/default.toml:9-12`) — modeled by the
 * `allVolatile` flag of [[isVolatile]].
 */
object Volatile {

  val tables: Set[String] = Set(
    "module_completion_requirement_fact",
    "module_fact",
    "module_item_fact",
    "module_prerequisite_fact",
    "module_progression_completion_requirement_fact",
    "module_progression_fact",
    "quiz_fact",
    "quiz_question_answer_fact",
    "quiz_question_fact",
    "quiz_question_group_fact",
    "quiz_submission_fact",
    "quiz_submission_historical_fact",
    "module_completion_requirement_dim",
    "module_dim",
    "module_item_dim",
    "module_prerequisite_dim",
    "module_progression_completion_requirement_dim",
    "module_progression_dim",
    "quiz_dim",
    "quiz_question_answer_dim",
    "quiz_question_dim",
    "quiz_question_group_dim",
    "quiz_submission_dim",
    "quiz_submission_historical_dim",
    "submission_comment_participant_dim",
    "requests",
    "assignment_override_user_rollup_fact",
    "enrollment_rollup_dim")

  def isVolatile(table: String, allVolatile: Boolean = false): Boolean =
    allVolatile || tables.contains(table)
}
