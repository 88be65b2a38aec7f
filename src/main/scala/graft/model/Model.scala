package graft.model

import java.sql.Timestamp

/** Core typed records of the transcript entity-resolution engine.
  *
  * Input contract (BASELINE.json `input_hint`): one row per conversation turn.
  * One linkage *record* = one conversation (`conv_id` group ordered by
  * `turn_idx`), mirroring the reference's one-row-per-address contract
  * (reference: general_context.md:8-14).
  */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: Option[String],
    ts: Timestamp
)

/** Ground-truth label: messy conversation -> true canonical conversation
  * (reference: post_linkage/accuracy_from_labels.py:313-321 uses
  * (unique_id, correct_unique_id)).
  */
final case class Label(conv_id: String, correct_conv_id: String)
